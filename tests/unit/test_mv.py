"""MaterializedView laws: rewrite transparency (MV answer == base
answer), incremental == full refresh, containment logic, and the
scan-avoidance contract (rewritten query reads only state files)."""

from __future__ import annotations

from pyspark.sql import functions as F

from demo_data_warehouse_spark.catalog import table
from demo_data_warehouse_spark.operators.mv import MaterializedView
from demo_data_warehouse_spark.streaming.pipeline import scratch_dir


def _events(spark, sf_dir):
    return table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_mv_rewrite_equals_base(spark, sf_dir):
    ev = _events(spark, sf_dir)
    mv = MaterializedView(spark, scratch_dir("mv_t1"), ["event_type", "day"], "value")
    mv.refresh_full(ev)
    from_mv, used = mv.answer(["event_type"], ["count", "sum", "avg", "min", "max"])
    assert used
    # force the base path by asking through a throwaway MV with keys
    # that don't contain the query, so both paths run the same request
    other = MaterializedView(spark, scratch_dir("mv_t1b"), ["day"], "value")
    other.refresh_full(ev)
    from_base, used_b = other.answer(
        ["event_type"], ["count", "sum", "avg", "min", "max"], base=ev
    )
    assert not used_b
    assert _rows(from_mv) == _rows(from_base)


def test_mv_incremental_equals_full(spark, sf_dir):
    ev = _events(spark, sf_dir)
    cut = F.lit("2024-01-15 00:00:00").cast("timestamp")
    inc = MaterializedView(spark, scratch_dir("mv_t2i"), ["event_type"], "value")
    inc.refresh_full(ev.where(F.col("ts") <= cut))
    inc.refresh_incremental(ev.where(F.col("ts") > cut))
    full = MaterializedView(spark, scratch_dir("mv_t2f"), ["event_type"], "value")
    full.refresh_full(ev)
    assert _rows(inc.state()) == _rows(full.state())


def test_mv_containment(spark, sf_dir):
    mv = MaterializedView(spark, scratch_dir("mv_t3"), ["event_type", "day"], "value")
    assert mv.can_answer(["event_type"], ["sum", "avg"])
    assert mv.can_answer(["day", "event_type"], ["count"])
    assert not mv.can_answer(["user_id"], ["sum"])  # key not in view
    assert not mv.can_answer(["event_type"], ["median"])  # not derivable


def test_mv_answer_scans_only_state(spark, sf_dir):
    ev = _events(spark, sf_dir)
    mv = MaterializedView(spark, scratch_dir("mv_t4"), ["event_type", "day"], "value")
    mv.refresh_full(ev)
    out, used = mv.answer(["day"], ["sum"])
    assert used
    files = out.inputFiles()
    assert files and all(mv.state_path in f for f in files)


def test_mv_publish_never_leaves_no_state_window(spark, sf_dir):
    # versioned dirs + pointer swap: at every moment between and after
    # refreshes, state_path resolves to a complete readable directory;
    # superseded versions and staging dirs are reclaimed.
    import os

    ev = _events(spark, sf_dir)
    root = scratch_dir("mv_t5")
    mv = MaterializedView(spark, root, ["event_type"], "value")
    mv.refresh_full(ev)
    first = mv.state_path
    assert os.path.isdir(first) and mv.state().count() > 0
    mv.refresh_incremental(ev.limit(0))  # no-op delta, new version published
    second = mv.state_path
    assert second != first
    assert os.path.isdir(second) and mv.state().count() > 0
    leftovers = [n for n in os.listdir(root) if n.startswith((".staging-", ".tmp-"))]
    assert leftovers == []
    # retention: current + immediately-previous version are kept (an
    # in-flight reader may still be scanning the previous one); older
    # generations are reclaimed
    assert os.path.isdir(first)
    mv.refresh_incremental(ev.limit(0))
    third = mv.state_path
    assert sorted(n for n in os.listdir(root) if n.startswith("state-v")) == sorted(
        [os.path.basename(second), os.path.basename(third)]
    )


def test_mv_reads_legacy_unversioned_state(spark, sf_dir):
    # an MV published by the pre-pointer layout (root/state) must stay
    # readable, and the next publish must migrate it to versioned form.
    import os
    import shutil

    ev = _events(spark, sf_dir)
    root = scratch_dir("mv_t6")
    mv = MaterializedView(spark, root, ["event_type"], "value")
    mv.refresh_full(ev)
    # simulate legacy layout: move current state to root/state, drop pointer
    shutil.move(mv.state_path, os.path.join(root, "state"))
    os.remove(os.path.join(root, "_current"))
    assert mv.state_path == os.path.join(root, "state")
    n_legacy = mv.state().count()
    assert n_legacy > 0
    mv.refresh_incremental(ev.limit(0))
    assert os.path.basename(mv.state_path).startswith("state-v")
    # the legacy dir survives the FIRST versioned publish (an in-flight
    # legacy reader may still be scanning it) and is reclaimed on the next
    assert os.path.exists(os.path.join(root, "state"))
    mv.refresh_incremental(ev.limit(0))
    assert not os.path.exists(os.path.join(root, "state"))
    assert mv.state().count() == n_legacy


def test_mv_reader_survives_concurrent_publishes(spark, sf_dir):
    # the retention claim, exercised for real: a reader loop running
    # while another thread publishes back-to-back refreshes must never
    # see a missing/torn state (the previous version stays on disk
    # until the next publish, and the pointer swap is atomic)
    import threading

    ev = _events(spark, sf_dir)
    mv = MaterializedView(spark, scratch_dir("mv_t7"), ["event_type"], "value")
    mv.refresh_full(ev)
    expected = mv.state().count()
    stop = threading.Event()
    errors = []

    def publisher():
        try:
            for _ in range(6):
                mv.refresh_incremental(ev.limit(0))
        except Exception as e:  # noqa: BLE001
            errors.append(e)
        finally:
            stop.set()

    t = threading.Thread(target=publisher)
    t.start()
    reads = 0
    try:
        while not stop.is_set():
            assert mv.state().count() == expected
            reads += 1
    finally:
        t.join()
    assert not errors, errors
    assert reads > 0  # the loop actually overlapped the publishes
    assert mv.state().count() == expected


def test_mv_crash_orphan_retention_keeps_pointed_version(spark, sf_dir):
    # crash window (ADVICE r4): a publish that renamed its state dir but
    # died BEFORE the pointer swap leaves an orphan max-numbered dir.
    # The next publish must retain the dir the pointer references (which
    # in-flight readers resolved), not the orphan.
    import os
    import shutil

    ev = _events(spark, sf_dir)
    mv = MaterializedView(spark, scratch_dir("mv_crash"), ["event_type"], "value")
    mv.refresh_full(ev)  # publishes state-v00000, pointer -> v00000
    pointed_before = os.path.basename(mv.state_path)
    assert pointed_before == "state-v00000"
    # simulate the crashed publish: orphan state-v00001, pointer untouched
    orphan = os.path.join(mv.root, "state-v00001")
    shutil.copytree(mv.state_path, orphan)
    # next successful publish becomes v00002; it must keep v00000 (the
    # version readers may still be scanning) and may reclaim the orphan
    mv.refresh_full(ev)
    assert os.path.basename(mv.state_path) == "state-v00002"
    assert os.path.isdir(os.path.join(mv.root, pointed_before)), (
        "pointed version was deleted while readers could still be scanning it"
    )
    assert not os.path.isdir(orphan), "crash orphan should be reclaimed"
