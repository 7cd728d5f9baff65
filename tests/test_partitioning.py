"""materialize() / scratch-dir helpers — the cluster-robustness seam.

``localCheckpoint`` stores blocks on executors with lineage truncated;
on a real cluster an executor loss (or dynamic-allocation scale-in)
loses the blocks with no recompute path. Every iterative data path
materializes through ``partitioning.materialize`` so the reliable path
(``checkpoint()`` to fault-tolerant storage, or a replicated persist)
is one conf away — these tests pin all three modes, and a source-level
guard keeps bare ``localCheckpoint`` from creeping back in.
"""

from __future__ import annotations

import pathlib

import pytest
from pyspark.sql import functions as F

from financial_data_engineering_spark.partitioning import (
    make_scratch_dir,
    materialize,
    materialize_counted,
    remove_scratch_dir,
)
from tests.conftest import count_jobs, run_within

SRC = pathlib.Path(__file__).resolve().parents[1] / (
    "financial_data_engineering_spark"
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_materialize_local_truncates_lineage(spark):
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    out = materialize(df)
    assert _rows(out) == _rows(df)
    # lineage is cut: the analyzed plan is a scan of materialized rows,
    # not the original Range + Project
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "Range" not in plan


def test_materialize_reliable_without_ckpt_dir_uses_replicated_persist(
    spark,
):
    if spark.sparkContext.getCheckpointDir():
        pytest.skip("checkpoint dir already set by an earlier test")
    spark.conf.set("spark.fdes.materialize.mode", "reliable")
    try:
        df = spark.range(50).withColumn("v", F.col("id") + 1)
        out = materialize(df)
        assert _rows(out) == _rows(df)
        # fallback: eager 2x-replicated persist (lineage kept)
        assert out.storageLevel.replication == 2
        assert out.storageLevel.useDisk
        out.unpersist()
    finally:
        spark.conf.set("spark.fdes.materialize.mode", "auto")


def _materialize_counted_within(df):
    return run_within(lambda: materialize_counted(df))


@pytest.mark.parametrize(
    "mode", ["local", "reliable_persist", "reliable_checkpoint"]
)
def test_materialize_counted_exact_in_every_mode(spark, tmp_path, mode):
    """The count observed on the materializing job is exact, empty frames
    included, and the returned frame is re-consumable in all three
    materialize modes: local checkpoint, the reliable mode's replicated
    persist (no checkpoint dir) and its reliable checkpoint."""
    sc = spark.sparkContext
    if mode == "reliable_persist" and sc.getCheckpointDir():
        pytest.skip("checkpoint dir already set by an earlier test")
    if mode == "reliable_checkpoint":
        sc.setCheckpointDir(str(tmp_path / "ckpt"))
    spark.conf.set(
        "spark.fdes.materialize.mode", "local" if mode == "local" else "reliable"
    )
    try:
        df = spark.range(200).filter(F.col("id") % 7 == 0)
        out, n = _materialize_counted_within(df)
        assert n == 29
        assert out.count() == 29
        assert _rows(out) == _rows(df)
        empty, n0 = _materialize_counted_within(df.filter(F.col("id") < 0))
        assert n0 == 0
        assert empty.count() == 0
        if mode == "reliable_persist":
            assert out.storageLevel.replication == 2
            out.unpersist()
            empty.unpersist()
    finally:
        spark.conf.unset("spark.fdes.materialize.mode")


def test_materialize_counted_is_one_job(spark):
    """In local mode the lineage cut and the count cost ONE Spark job for
    a map-only frame: the count is observed on the localCheckpoint job,
    with no count aggregate after it."""
    df = spark.range(1000).filter(F.col("id") % 3 == 0)
    spark.conf.set("spark.fdes.materialize.mode", "local")
    try:
        with count_jobs(spark) as jobs:
            out, n = materialize_counted(df)
    finally:
        spark.conf.unset("spark.fdes.materialize.mode")
    assert n == 334
    assert jobs.n == 1


def test_materialize_reliable_with_ckpt_dir_checkpoints(spark, tmp_path):
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    spark.conf.set("spark.fdes.materialize.mode", "reliable")
    try:
        df = spark.range(50).withColumn("v", F.col("id") * 3)
        out = materialize(df)
        assert _rows(out) == _rows(df)
        plan = out._jdf.queryExecution().analyzed().toString()
        assert "Range" not in plan
        # the blocks live in the fault-tolerant checkpoint dir
        assert any((tmp_path / "ckpt").rglob("*"))
    finally:
        spark.conf.set("spark.fdes.materialize.mode", "auto")


def test_no_bare_local_checkpoint_on_data_paths():
    """Source guard: the only ``.localCheckpoint(`` call in the package
    is inside materialize() itself. Round 8's verdict found ~20 bare
    sites; this keeps them from coming back."""
    offenders = []
    for py in SRC.rglob("*.py"):
        for i, line in enumerate(py.read_text().splitlines(), 1):
            if ".localCheckpoint(" in line:
                offenders.append(f"{py.relative_to(SRC.parent)}:{i}")
    assert offenders == [
        "financial_data_engineering_spark/partitioning.py:181"
    ], offenders


def test_scratch_dir_unique_and_removable(spark, tmp_path):
    a = make_scratch_dir(spark, "fdes_test_")
    b = make_scratch_dir(spark, "fdes_test_")
    try:
        assert a != b  # uuid-unique: concurrent invocations never share
        spark.range(5).write.mode("overwrite").parquet(a)
        assert spark.read.parquet(a).count() == 5
    finally:
        remove_scratch_dir(spark, a)
        remove_scratch_dir(spark, b)
    assert not pathlib.Path(a).exists()
    assert not pathlib.Path(b).exists()


def test_scratch_dir_conf_override(spark):
    spark.conf.set("spark.fdes.scratch.dir", "/shared/scratch")
    try:
        p = make_scratch_dir(spark, "fdes_test_")
        assert p.startswith("/shared/scratch/fdes_test_")
    finally:
        spark.conf.unset("spark.fdes.scratch.dir")


def test_materialize_storage_level_conf_round_trips(spark):
    """The huge-SF knob: a StorageLevel name in the conf must reach the
    checkpointed blocks (DISK_ONLY bounded the r10 sf10 graph run's
    heap), values must round-trip exactly, and an unset conf must keep
    Spark's default behavior."""
    def _levels_by_id():
        # df.storageLevel only reflects persist(); checkpoint blocks
        # show up as the context's persistent RDDs
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {
            int(k): str(jmap.get(k).getStorageLevel().description())
            for k in jmap.keySet().toArray()
        }

    def _new_levels(before: dict) -> list[str]:
        # ONLY the RDDs that appeared since `before`: the session-scoped
        # context can hold blocks from other tests or earlier
        # materialize calls, which would satisfy either assertion
        # vacuously (the r10 advisor finding).
        return [d for i, d in _levels_by_id().items() if i not in before]

    df = spark.range(50).withColumn("v", F.col("id") * 3)
    spark.conf.set("spark.fdes.materialize.storageLevel", "DISK_ONLY")
    try:
        before = _levels_by_id()
        out = materialize(df)
        assert _rows(out) == _rows(df)
        new = _new_levels(before)
        assert new and all(
            "Disk" in d and "Memory" not in d for d in new
        ), new
        plan = out._jdf.queryExecution().analyzed().toString()
        assert "Range" not in plan  # lineage still cut
    finally:
        spark.conf.unset("spark.fdes.materialize.storageLevel")
    # unset again: Spark's default (memory-backed, deserialized) blocks
    before = _levels_by_id()
    out2 = materialize(df)
    assert _rows(out2) == _rows(df)
    new2 = _new_levels(before)
    assert new2 and all("Memory" in d for d in new2), new2


def test_materialize_rejects_typod_storage_level(spark):
    """A typo'd conf value must raise a ValueError NAMING the conf and
    the valid StorageLevel names — not a bare AttributeError from
    getattr (r10 advisor finding)."""
    import pytest

    df = spark.range(5)
    spark.conf.set("spark.fdes.materialize.storageLevel", "DISK_ONLYY")
    try:
        with pytest.raises(ValueError) as exc:
            materialize(df)
        msg = str(exc.value)
        assert "spark.fdes.materialize.storageLevel" in msg
        assert "DISK_ONLY" in msg  # valid names listed
    finally:
        spark.conf.unset("spark.fdes.materialize.storageLevel")


def test_materialize_warns_when_level_ignored_in_reliable_mode(spark):
    """The storage-level knob only affects local-mode checkpoint blocks;
    setting it alongside reliable mode must WARN, not silently no-op."""
    import warnings as _warnings

    df = spark.range(5)
    spark.conf.set("spark.fdes.materialize.mode", "reliable")
    spark.conf.set("spark.fdes.materialize.storageLevel", "DISK_ONLY")
    try:
        with _warnings.catch_warnings(record=True) as caught:
            _warnings.simplefilter("always")
            out = materialize(df)
            out.unpersist()
        assert any(
            "reliable" in str(w.message)
            and "spark.fdes.materialize.storageLevel" in str(w.message)
            for w in caught
        ), [str(w.message) for w in caught]
    finally:
        spark.conf.unset("spark.fdes.materialize.mode")
        spark.conf.unset("spark.fdes.materialize.storageLevel")


def test_materialize_skips_already_checkpointed(spark):
    """materialize() of an already-materialized frame — or a cheap
    projection (rename/cast/arithmetic) over one — must return the input
    unchanged instead of copying every block through a second
    checkpoint (r14: the graph operators' defensive materialize was a
    full ~210 MB block copy per query over the session-shared edge
    frame)."""
    base = materialize(spark.range(50).withColumn("v", F.col("id") * 2))
    assert materialize(base) is base
    renamed = base.select(F.col("id").alias("k"), "v")
    assert materialize(renamed) is renamed
    arith = base.select("id", (F.col("v") * 3).cast("long").alias("w"))
    assert materialize(arith) is arith


def test_materialize_does_not_skip_real_lineage(spark):
    """Filters/aggregates over a checkpoint are NOT a cheap projection —
    they must still materialize (lineage cut, rows pinned)."""
    base = materialize(spark.range(50))
    filtered = materialize(base.filter(F.col("id") % 2 == 0))
    plan = filtered._jdf.queryExecution().analyzed().toString()
    assert "Filter" not in plan  # lineage was cut
    assert _rows(filtered) == _rows(base.filter(F.col("id") % 2 == 0))


def test_materialize_counted_cuts_lineage_and_counts(spark):
    """materialize_counted returns (materialized frame, exact count)
    from one fused action: lineage must be cut exactly as materialize()
    cuts it, the count must match the data, and the frame must be
    re-consumable (blocks pinned, not a one-shot iterator)."""
    df = spark.range(100).filter(F.col("id") % 3 == 0)
    out, n = materialize_counted(df)
    assert n == 34
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "Filter" not in plan  # lineage was cut
    assert out.count() == 34  # re-consumable after the fused action
    assert _rows(out) == _rows(df)
    # already-materialized input: no re-copy (materialize()'s skip), and
    # the count is still exact
    again, n2 = materialize_counted(out)
    assert again is out
    assert n2 == 34


def test_broadcast_if_small_threshold(spark):
    """broadcast_if_small hints only when the measured row count fits
    under autoBroadcastJoinThreshold; above it (or with broadcast
    disabled) the frame is returned unhinted — the 100 TB-side shape."""
    from financial_data_engineering_spark.partitioning import (
        broadcast_if_small,
    )

    df = spark.range(10).withColumnRenamed("id", "k")

    def _is_hinted(d):
        return "ResolvedHint" in d._jdf.queryExecution().analyzed().toString()

    assert _is_hinted(broadcast_if_small(df, 10, row_bytes=16))
    thr = int(spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    too_many = thr // 16 + 1
    assert not _is_hinted(broadcast_if_small(df, too_many, row_bytes=16))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert not _is_hinted(broadcast_if_small(df, 10, row_bytes=16))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(thr))


def test_parse_bytes_suffixes():
    from financial_data_engineering_spark.partitioning import _parse_bytes

    assert _parse_bytes("67108864") == 64 * 1024 * 1024
    assert _parse_bytes("64m") == 64 * 1024 * 1024
    assert _parse_bytes("10MB") == 10 * 1024 * 1024
    assert _parse_bytes("1g") == 1 << 30
    assert _parse_bytes("-1") == -1
    assert _parse_bytes("garbage") == -1
