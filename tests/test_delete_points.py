"""Row-level DELETE under the snapshot protocol (sinks.delete_points
+ the InfluxQL DELETE front-end).

The scale contract under test: only files containing matching rows
are rewritten — every untouched file must enter the new snapshot as a
HARDLINK (same inode), so delete cost is proportional to data
matched, not table size.
"""

from __future__ import annotations

import datetime as dt
import glob
import os

import pytest

from pyspark.sql import functions as F

from ciws_server_spark.sources import sinks


def _mk_table(spark, table_dir):
    rows = []
    for b in ("A", "B"):
        for d in (1, 2):
            for i in range(5):
                rows.append(
                    (dt.datetime(2024, 1, d, 6, i), b, float(i))
                )
    df = spark.createDataFrame(
        rows, "time timestamp, buildingID string, flowRate double"
    )
    sinks.append_points(df, table_dir, "campus_flow")
    return os.path.join(table_dir, "campus_flow")


def _inodes(root):
    return {
        os.path.relpath(p, os.path.realpath(root)): os.stat(p).st_ino
        for p in glob.glob(
            os.path.join(os.path.realpath(root), "**", "*.parquet"),
            recursive=True,
        )
    }


def test_delete_rewrites_only_affected_files(spark, tmp_path):
    table_dir = str(tmp_path)
    root = _mk_table(spark, table_dir)
    before = _inodes(root)

    n = sinks.delete_points(
        spark,
        table_dir,
        "campus_flow",
        "buildingID = 'A' AND date = DATE'2024-01-01' AND flowRate >= 3",
    )
    assert n == 2  # flowRate 3,4 of A/day1

    after = spark.read.parquet(root)
    assert after.count() == 18
    remaining_a1 = (
        after.where("buildingID = 'A' AND date = DATE'2024-01-01'")
        .select("flowRate")
        .collect()
    )
    assert sorted(r.flowRate for r in remaining_a1) == [0.0, 1.0, 2.0]

    # untouched partitions entered the new snapshot as hardlinks
    now = _inodes(root)
    untouched = {
        rel: ino
        for rel, ino in before.items()
        if not rel.startswith(os.path.join("buildingID=A", "date=2024-01-01"))
    }
    for rel, ino in untouched.items():
        assert now[rel] == ino, f"{rel} was rewritten, not hardlinked"
    # the affected partition's file was rewritten (new name or inode)
    assert not any(
        now.get(rel) == ino
        for rel, ino in before.items()
        if rel.startswith(os.path.join("buildingID=A", "date=2024-01-01"))
    )


def test_delete_no_match_is_a_noop(spark, tmp_path):
    table_dir = str(tmp_path)
    root = _mk_table(spark, table_dir)
    version = os.readlink(root) if os.path.islink(root) else None
    assert (
        sinks.delete_points(
            spark, table_dir, "campus_flow", "buildingID = 'Z'"
        )
        == 0
    )
    # no snapshot published
    assert (os.readlink(root) if os.path.islink(root) else None) == version
    assert spark.read.parquet(root).count() == 20


def test_delete_waits_for_compactor_lock(spark, tmp_path):
    """r13 contract: DELETE is a user-facing statement — it WAITS
    behind a held maintenance lock (kernel flock queue) instead of
    failing fast; it must not start its rewrite while the lock is
    held and must complete once released."""
    import threading
    import time

    table_dir = str(tmp_path)
    root = _mk_table(spark, table_dir)
    released = threading.Event()
    result: dict = {}

    def run_delete():
        result["n"] = sinks.delete_points(
            spark, table_dir, "campus_flow", "buildingID = 'A'"
        )
        result["after_release"] = released.is_set()

    with sinks._flock(
        sinks._lock_file(root, "compact"), exclusive=True, blocking=False
    ):
        t = threading.Thread(target=run_delete)
        t.start()
        time.sleep(1.0)
        assert t.is_alive()  # blocked behind the held lock
        released.set()
    t.join(timeout=120)
    assert not t.is_alive()
    assert result["n"] > 0 and result["after_release"]


def test_delete_then_compact_then_read(spark, tmp_path):
    """Delete composes with compaction and stays readable."""
    table_dir = str(tmp_path)
    root = _mk_table(spark, table_dir)
    assert (
        sinks.delete_points(spark, table_dir, "campus_flow", "flowRate = 0")
        == 4
    )
    sinks.compact_table(spark, table_dir, "campus_flow")
    df = spark.read.parquet(root)
    assert df.count() == 16
    assert df.where("flowRate = 0").count() == 0


def test_influxql_delete_statement(spark, tmp_path):
    from ciws_server_spark.plans.influxql import (
        InfluxQLError,
        execute_delete,
    )

    table_dir = str(tmp_path)
    root = _mk_table(spark, table_dir)
    n = execute_delete(
        spark,
        "DELETE FROM campus_flow WHERE buildingID = 'B' "
        "AND time >= '2024-01-02 00:00:00'",
        table_dir,
    )
    assert n == 5
    left = spark.read.parquet(root)
    assert left.count() == 15
    assert left.where("buildingID = 'B'").count() == 5  # day-1 B rows

    # DELETE FROM m with no WHERE removes every point; the snapshot
    # is fileless (schema-under-emptiness needs a txn log — see
    # delete_points docstring), so assert at the file level and via a
    # schema-supplied read
    assert execute_delete(spark, "DELETE FROM campus_flow", table_dir) == 15
    assert glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True) == []
    assert (
        spark.read.schema("time timestamp, flowRate double")
        .parquet(root)
        .count()
        == 0
    )

    with pytest.raises(InfluxQLError, match="not a DELETE"):
        execute_delete(spark, "DROP MEASUREMENT campus_flow", table_dir)


def test_delete_crash_before_swap_heals(spark, tmp_path, monkeypatch):
    """Crash after the durable vnext rename but before the symlink
    swap: the table must still read its ORIGINAL rows, and recovery
    must vacuum the unreferenced half-published version — the same
    crash state the compactor protocol heals, because delete shares
    _publish_snapshot verbatim."""
    table_dir = str(tmp_path)
    root = _mk_table(spark, table_dir)

    real_publish = sinks._publish_snapshot

    def crash_after_marker(r, tmp, before, what, carry=None):
        versions = sinks._version_dirs(r)
        nv = (int(versions[-1][-6:]) + 1) if versions else 1
        os.rename(tmp, f"{r}.v{nv:06d}")
        raise RuntimeError("simulated crash before swap")

    monkeypatch.setattr(sinks, "_publish_snapshot", crash_after_marker)
    with pytest.raises(RuntimeError, match="simulated crash"):
        sinks.delete_points(
            spark, table_dir, "campus_flow", "buildingID = 'A'"
        )
    monkeypatch.setattr(sinks, "_publish_snapshot", real_publish)

    # nothing was swapped: all 20 original rows still visible
    assert spark.read.parquet(root).count() == 20
    sinks.recover_compaction(table_dir, "campus_flow")
    assert spark.read.parquet(root).count() == 20
    # and a subsequent delete completes normally
    assert (
        sinks.delete_points(
            spark, table_dir, "campus_flow", "buildingID = 'A'"
        )
        == 10
    )
    assert spark.read.parquet(root).count() == 10


def test_drop_measurement(spark, tmp_path):
    from ciws_server_spark.plans.influxql import (
        InfluxQLError,
        execute_drop,
    )

    table_dir = str(tmp_path)
    root = _mk_table(spark, table_dir)
    # compose with the snapshot layout: compact first so root is a
    # symlink into a version dir
    sinks.compact_table(spark, table_dir, "campus_flow")
    assert os.path.islink(root)
    assert execute_drop(spark, "DROP MEASUREMENT campus_flow", table_dir)
    assert not os.path.lexists(root)
    assert sinks._version_dirs(root) == []
    # idempotent: dropping a missing measurement reports False
    assert not execute_drop(spark, "DROP MEASUREMENT campus_flow", table_dir)
    with pytest.raises(InfluxQLError, match="not a DROP"):
        execute_drop(spark, "DROP DATABASE x", table_dir)


def test_run_influxql_dispatch(spark, tmp_path):
    """One front door for every statement kind, as an HTTP query
    endpoint would use it."""
    from ciws_server_spark.plans.influxql import (
        InfluxQLError,
        run_influxql,
    )

    table_dir = str(tmp_path)
    root = _mk_table(spark, table_dir)
    tables = {"campus_flow": spark.read.parquet(root)}

    # SELECT → DataFrame
    got = run_influxql(
        spark, tables, "SELECT count(flowRate) FROM campus_flow "
        "GROUP BY time(1d), buildingID",
    )
    assert got.count() == 4
    # SHOW → DataFrame
    assert run_influxql(spark, tables, "SHOW MEASUREMENTS").collect()[0][
        "name"
    ] == "campus_flow"
    # INTO → writes and returns the target frame
    out = run_influxql(
        spark, tables,
        "SELECT mean(flowRate) INTO daily FROM campus_flow GROUP BY time(1d)",
        table_dir=table_dir,
    )
    assert out.count() == 2
    # DELETE → count; DROP → existed
    assert (
        run_influxql(
            spark, tables,
            "DELETE FROM campus_flow WHERE buildingID = 'A'",
            table_dir=table_dir,
        )
        == 10
    )
    assert run_influxql(
        spark, tables, "DROP MEASUREMENT daily", table_dir=table_dir
    ) is True
    # write statements refuse to run without a table_dir
    with pytest.raises(InfluxQLError, match="table_dir"):
        run_influxql(spark, tables, "DELETE FROM campus_flow")


def test_delete_preserves_batch_id_layout(spark, tmp_path):
    """Streaming-ingested tables keep batch_id leaf partitions so
    replay idempotence survives; a delete must rewrite survivors INTO
    that layout, not flatten it."""
    import datetime as _dt

    table_dir = str(tmp_path)
    df = spark.createDataFrame(
        [
            (_dt.datetime(2024, 1, 1, 6), "A", 1.0),
            (_dt.datetime(2024, 1, 1, 7), "A", 2.0),
            (_dt.datetime(2024, 1, 1, 8), "B", 3.0),
        ],
        "time timestamp, buildingID string, flowRate double",
    )
    sinks.append_points(df, table_dir, "campus_flow", batch_id=7)
    root = os.path.join(table_dir, "campus_flow")
    n = sinks.delete_points(spark, table_dir, "campus_flow", "flowRate = 2")
    assert n == 1
    kept = glob.glob(
        os.path.join(os.path.realpath(root), "**", "*.parquet"),
        recursive=True,
    )
    assert kept and all("batch_id=7" in p for p in kept)
    left = spark.read.parquet(root)
    assert sorted(r.flowRate for r in left.collect()) == [1.0, 3.0]
    # replay of batch 7 still overwrites its own partitions cleanly
    sinks.append_points(df, table_dir, "campus_flow", batch_id=7)
    assert spark.read.parquet(root).count() == 3


def test_delete_keeps_null_evaluating_rows(spark, tmp_path):
    """Three-valued logic: rows where the predicate evaluates to NULL
    must SURVIVE a delete (InfluxDB deletes only matching points).
    The regression mode: a null-tag row sharing a file with a matched
    row was dropped by the rewrite's where(~pred) while the same row
    in an untouched file survived via hardlink — inconsistent loss
    the returned count never reported."""
    table_dir = str(tmp_path)
    rows = [
        # one file's worth of day-1 rows: matched, unmatched, null-tag
        (dt.datetime(2024, 1, 1, 6, 0), "A", 1.0),
        (dt.datetime(2024, 1, 1, 6, 1), "B", 2.0),
        (dt.datetime(2024, 1, 1, 6, 2), None, 3.0),
        # day-2 (different partition file): null-tag row, no match
        (dt.datetime(2024, 1, 2, 6, 0), None, 4.0),
    ]
    df = spark.createDataFrame(
        rows, "time timestamp, buildingID string, flowRate double"
    )
    sinks.append_points(df, table_dir, "campus_flow")
    root = os.path.join(table_dir, "campus_flow")

    n = sinks.delete_points(
        spark, table_dir, "campus_flow", "buildingID = 'A'"
    )
    assert n == 1
    left = sorted(
        ((r.buildingID or "", r.flowRate)
         for r in spark.read.parquet(root).collect()),
    )
    # both null-tag rows survive — the one that shared a file with the
    # matched row AND the one in the untouched file
    assert left == [("", 3.0), ("", 4.0), ("B", 2.0)]


def test_delete_streams_file_list_many_files(spark, tmp_path):
    """The affected-file discovery must not materialize every path in
    one driver-side aggregation row: a broad delete over a table with
    ~10k files streams per-file match rows (toLocalIterator) and
    still deletes exactly the matched rows."""
    table_dir = str(tmp_path)
    root = os.path.join(table_dir, "campus_flow")
    # build one real single-file table via the normal append path...
    df = spark.createDataFrame(
        [
            (dt.datetime(2024, 1, 1, 6, 0), "A", 1.0),
            (dt.datetime(2024, 1, 1, 6, 1), "B", 2.0),
        ],
        "time timestamp, buildingID string, flowRate double",
    )
    sinks.append_points(df, table_dir, "campus_flow")
    # ...then fan its data file out to 10k hardlinked siblings (cheap:
    # metadata-only) so the per-file grouping has 10k distinct paths,
    # every one containing a match
    current = os.path.realpath(root)
    files = glob.glob(
        os.path.join(current, "**", "*.parquet"), recursive=True
    )
    # clone inside the buildingID=A partition so every file matches
    src = next(f for f in files if "buildingID=A" in f)
    d = os.path.dirname(src)
    for i in range(9999):
        os.link(src, os.path.join(d, f"part-clone-{i:05d}.parquet"))

    n = sinks.delete_points(
        spark, table_dir, "campus_flow", "buildingID = 'A'"
    )
    assert n == 10000  # one match per file, all 10k A-files affected
    left = spark.read.parquet(root)
    assert left.where("buildingID = 'A'").count() == 0
    assert left.where("buildingID = 'B'").count() == 1


@pytest.mark.parametrize(
    "pred",
    [
        "flowRate < 2",
        "buildingID = 'A' OR flowRate = 4",
        "time >= '2024-01-02 00:00:00' AND buildingID = 'B'",
        "date = DATE'2024-01-01'",
    ],
)
def test_delete_partitions_the_table_exactly(spark, tmp_path, pred):
    """Invariant: delete(pred) removes exactly the pred rows — the
    survivors equal the original's anti-selection, row for row."""
    table_dir = str(tmp_path)
    root = _mk_table(spark, table_dir)
    original = spark.read.parquet(root)
    want_gone = original.where(pred).count()
    want_left = sorted(
        (str(r.time), r.buildingID, r.flowRate)
        for r in original.where(f"NOT ({pred})").collect()
    )
    assert (
        sinks.delete_points(spark, table_dir, "campus_flow", pred)
        == want_gone
    )
    got_left = sorted(
        (str(r.time), r.buildingID, r.flowRate)
        for r in spark.read.parquet(root).collect()
    )
    assert got_left == want_left


def test_delete_regex_and_fromless(spark, tmp_path):
    """Upstream forms: DELETE FROM /re/, database-wide DELETE WHERE,
    DROP SERIES FROM /re/ and FROM-less DROP SERIES WHERE — each
    sweeps every matching measurement; bare DELETE / DROP SERIES are
    named errors."""
    import pytest as _pytest

    from ciws_server_spark.plans.influxql import (
        InfluxQLError,
        run_influxql,
    )

    td = str(tmp_path)
    mk = lambda b: spark.createDataFrame(  # noqa: E731
        [
            (dt.datetime(2024, 1, 1, 6), b, 1.0),
            (dt.datetime(2024, 2, 1, 6), b, 2.0),
        ],
        "time timestamp, buildingID string, flowRate double",
    )
    sinks.append_points(mk("A"), td, "campus_flow")
    sinks.append_points(mk("B"), td, "campus_b")
    tabs = lambda: sinks.load_tables(spark, td)  # noqa: E731

    n = run_influxql(
        spark, tabs(),
        "DELETE FROM /campus/ WHERE buildingID = 'A'", table_dir=td,
    )
    assert n == 2
    n = run_influxql(
        spark, tabs(), "DELETE WHERE time < '2024-01-15'", table_dir=td
    )
    assert n == 1  # campus_b's January point
    n = run_influxql(
        spark, tabs(), "DROP SERIES FROM /campus/", table_dir=td
    )
    assert n == 1  # the last remaining point
    n = run_influxql(
        spark, tabs(), "DROP SERIES WHERE buildingID = 'Z'",
        table_dir=td,
    )
    assert n == 0
    for bad in ("DELETE", "DROP SERIES"):
        with _pytest.raises(InfluxQLError, match="requires FROM"):
            run_influxql(spark, tabs(), bad, table_dir=td)
    with _pytest.raises(InfluxQLError, match="invalid measurement regex"):
        run_influxql(spark, tabs(), "DELETE FROM /(/", table_dir=td)


def test_path_hostile_measurement_names_rejected(spark, tmp_path):
    """Wire-fuzz find (r12): a measurement maps to ONE path component
    — quoted hostile names ('tar/get', '../x') are named errors at
    every mutation entry point, never a directory escape."""
    import datetime as dt

    import pytest

    from ciws_server_spark.plans.influxql import InfluxQLError, run_influxql
    from ciws_server_spark.sources import sinks

    td = str(tmp_path)
    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 6, 0), "A", 1.0)],
        "time timestamp, buildingID string, flowRate double",
    )
    sinks.append_points(df, td, "campus_flow")
    tabs = sinks.load_tables(spark, td)
    for stmt in (
        'DROP MEASUREMENT "../escape"',
        'DELETE FROM "../escape" WHERE buildingID = \'A\'',
        "SELECT mean(flowRate) INTO \"tar/get\" FROM campus_flow "
        "GROUP BY time(1h)",
    ):
        with pytest.raises(InfluxQLError, match="invalid measurement"):
            run_influxql(spark, tabs, stmt, table_dir=td)
    # storage-boundary defense in depth
    with pytest.raises(sinks.InvalidTableName):
        sinks.append_points(df, td, "tar/get")
    with pytest.raises(sinks.InvalidTableName):
        sinks.append_points(df, td, "..")
    # nothing escaped the store root
    import os

    assert not os.path.lexists(os.path.join(td, "..", "escape"))
    assert not os.path.lexists(os.path.join(td, "tar"))


@pytest.mark.parametrize(
    "building, carried", [("C", True), ("A", False)]
)
def test_delete_vs_append_during_rewrite(
    spark, tmp_path, monkeypatch, building, carried
):
    """An append that commits while a DELETE rewrites: rows the
    predicate does not match commute with the delete, so they are
    carried into the published snapshot (the delete does not abort,
    nothing is lost); rows it does match abort the delete, leaving
    the live table as it was, appended row included."""
    table_dir = str(tmp_path)
    root = _mk_table(spark, table_dir)
    extra = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 7, 0), building, 9.0)],
        "time timestamp, buildingID string, flowRate double",
    )
    real_flock = sinks._flock
    calls = {"write_ex": 0}

    def racing_flock(path, exclusive, blocking=True):
        # the delete's write-lock EX acquisitions: #1 = capture,
        # #2 = validate+swap; append just before #2
        if path.endswith(".write.lock") and exclusive:
            calls["write_ex"] += 1
            if calls["write_ex"] == 2:
                sinks.append_points(extra, table_dir, "campus_flow")
        return real_flock(path, exclusive, blocking)

    monkeypatch.setattr(sinks, "_flock", racing_flock)
    pred = "buildingID = 'A' AND flowRate >= 3"
    if carried:
        assert sinks.delete_points(spark, table_dir, "campus_flow", pred) == 4
    else:
        with pytest.raises(sinks.ConcurrentAppendDetected):
            sinks.delete_points(spark, table_dir, "campus_flow", pred)
    monkeypatch.undo()
    rows = spark.read.parquet(root)
    assert rows.count() == (20 - 4 + 1 if carried else 20 + 1)
    assert rows.where(f"buildingID = '{building}' AND flowRate = 9").count() == 1
