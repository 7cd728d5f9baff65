"""OracleRunner escalation retry — the encoded form of the r10 sf10
manual rerun (reports/gate/r10_local_sf10_strict_spot.log: the
`part_copurchase_communities` oracle died on DuckDB temp-storage
exhaustion at the 32GB base cap and passed standalone at 40GB; the
runner now performs that rerun itself, so no future gate needs a
manual one).

The forced-spill test provokes the REAL error class — a sort larger
than memory against a 1MB-capped spill dir raises
OutOfMemoryException ("failed to offload data block") — rather than
monkeypatching, so the test breaks if DuckDB changes the error
taxonomy the retry keys on.

Whether that sort exhausts the cap depends on DuckDB's per-thread share
of the memory limit, and ``threads`` defaults to the host's core count.
Under DuckDB 1.0.0 only standard 256 KiB blocks count against
``max_temp_directory_size``; at 16 threads or fewer the 64MB sort
spills larger buffers (1.5-2.4 MB each) that the cap does not count,
so it finishes with hundreds of MB on disk and never raises. The
forced-spill tests therefore pin ``threads=32``, the setting on the
host where they were written, on every connection the runner opens.
"""

from __future__ import annotations

import duckdb
import pytest

from tests.conftest import SF_SMALL
from tools.check_correctness import OracleRunner

#: Big enough to need spilling at a 64MB cap, small enough to sort in
#: about a second once the caps are raised.
_SPILL_SQL = (
    "SELECT count(*) AS n FROM"
    " (SELECT * FROM range(20000000) ORDER BY hash(range))"
)

#: DuckDB ``threads`` at which _SPILL_SQL exhausts a 1MB spill cap
#: under a 64MB memory limit (24 and above raise; 16 and below finish).
_SPILL_THREADS = 32


@pytest.fixture
def spill_threads(monkeypatch):
    """Pin ``threads`` on every connection an OracleRunner opens, base
    and escalated, so the forced spill fails the same way on any host."""
    connect = OracleRunner._connect

    def _connect(self, mem, temp_size):
        con = connect(self, mem, temp_size)
        con.execute(f"SET threads={_SPILL_THREADS}")
        return con

    monkeypatch.setattr(OracleRunner, "_connect", _connect)


def test_forced_spill_exhaustion_retries_and_succeeds(spill_threads):
    runner = OracleRunner(
        SF_SMALL, mem="64MB", temp="1MB", retry_mem="4GB", retry_temp="10GB"
    )
    cols, types, rows, retried = runner.run(_SPILL_SQL)
    assert retried, "base caps were expected to exhaust the 1MB spill dir"
    assert cols == ["n"] and rows == [(20000000,)]
    # escalated caps persist for the remaining session (caps only go up)
    _, _, rows2, retried2 = runner.run(_SPILL_SQL)
    assert rows2 == [(20000000,)] and not retried2


def test_retry_preserves_table_views(spill_threads):
    """The fresh escalated connection must re-register the sf views —
    an oracle that failed mid-gate resumes against the same tables."""
    runner = OracleRunner(
        SF_SMALL, mem="64MB", temp="1MB", retry_mem="4GB", retry_temp="10GB"
    )
    _, _, _, retried = runner.run(_SPILL_SQL)
    assert retried
    _, _, rows, _ = runner.run("SELECT count(*) AS n FROM nation")
    assert rows[0][0] > 0


def test_dead_connection_rebuilds_transparently():
    """A dead handle (the state a FAILED escalation leaves when even
    the fresh connection's setup OOMs) must not poison later queries —
    run() rebuilds at base caps and answers normally. Encodes the r13
    sf10 cascade: one oracle OOM turned into seven
    'Connection has already been closed' failures."""
    runner = OracleRunner(SF_SMALL, mem="1GB", retry_mem="2GB")
    runner.con.close()  # simulate the post-failed-escalation state
    _, _, rows, retried = runner.run("SELECT count(*) AS n FROM nation")
    assert rows[0][0] > 0 and not retried
    # and the rebuilt connection persists
    _, _, rows2, _ = runner.run("SELECT count(*) AS n FROM region")
    assert rows2[0][0] > 0


def test_failed_escalation_restores_usable_connection(spill_threads):
    """When the escalated retry itself fails, the query fails but the
    NEXT query still runs (a fresh base connection was restored)."""
    runner = OracleRunner(
        SF_SMALL, mem="64MB", temp="1MB", retry_mem="96MB", retry_temp="1MB"
    )
    with pytest.raises(duckdb.Error):
        runner.run(_SPILL_SQL)  # exhausts base AND the tiny retry caps
    _, _, rows, _ = runner.run("SELECT count(*) AS n FROM nation")
    assert rows[0][0] > 0


def test_stale_spill_dirs_reaped_on_init():
    """Spill subdirs stranded by DEAD pids are reclaimed when the next
    runner starts; the live process's own dirs (and non-spill names)
    are untouched — crashed-run spill must not shrink the 78GB shared
    disk for every later gate."""
    import os
    import subprocess

    from tools.check_correctness import SPILL_BASE, _reap_stale_spill_dirs

    # a real pid that is provably dead: a subprocess that already exited
    dead = subprocess.Popen(["true"])
    dead.wait()
    dead_dir = os.path.join(SPILL_BASE, f"c{dead.pid}_1")
    own_dir = os.path.join(SPILL_BASE, f"c{os.getpid()}_999")
    other = os.path.join(SPILL_BASE, "not_a_conn_dir")
    for d in (dead_dir, own_dir, other):
        os.makedirs(d, exist_ok=True)
    with open(os.path.join(dead_dir, "spill.blk"), "wb") as f:
        f.write(b"\0" * 128)
    try:
        _reap_stale_spill_dirs()
        assert not os.path.exists(dead_dir), "dead-owner spill not reaped"
        assert os.path.isdir(own_dir), "live process's dir was removed"
        assert os.path.isdir(other), "non-conn dir was removed"
    finally:
        for d in (own_dir, other):
            if os.path.isdir(d):
                os.rmdir(d)


def test_phrase_detection_recognizes_each_exemplar():
    """The phrase-based arm of _is_resource_exhaustion exists because
    DuckDB maps some exhaustion OUTSIDE the retryable classes (the r11
    sf10 kcore oracle's "failed to pin block" arrived as a plain
    duckdb.Error and silently bypassed the class check). Pin each
    phrase against a synthetic exemplar, and the list's version
    coupling against the pinned DuckDB (requirements.txt duckdb==) —
    a version bump must consciously re-verify the wording, not
    silently un-detect the bypass."""
    from tools.check_correctness import (
        _RESOURCE_PHRASES,
        _is_resource_exhaustion,
    )

    exemplars = [
        "failed to pin block of size 256.0 KiB (37.2 GiB/37.2 GiB used)",
        "Out of Memory Error: could not allocate block",
        "IO Error: No space left on device",
        "failed to offload data block: max_temp_directory_size exceeded",
    ]
    for msg in exemplars:
        assert _is_resource_exhaustion(duckdb.Error(msg)), msg
    # every declared phrase is covered by an exemplar above
    for phrase in _RESOURCE_PHRASES:
        assert any(phrase in m for m in exemplars), phrase
    # non-duckdb and semantic errors stay out
    assert not _is_resource_exhaustion(ValueError(exemplars[0]))
    assert not _is_resource_exhaustion(
        duckdb.Error("Binder Error: no_such_column not found")
    )
    # the wording was verified against this exact version; on a bump,
    # re-provoke the r11 failure modes before widening this assert
    assert duckdb.__version__ == "1.0.0", (
        "DuckDB version changed — re-verify _RESOURCE_PHRASES wording "
        "against the new version, then update this pin and "
        "requirements.txt together"
    )


def test_non_resource_errors_do_not_retry():
    """Only the exhaustion class escalates: a semantic error must raise
    immediately (a retry would mask a broken oracle as slow)."""
    runner = OracleRunner(SF_SMALL, mem="64MB")
    with pytest.raises(duckdb.Error):
        runner.run("SELECT no_such_column FROM nation")
    # and the connection stays usable on the ORIGINAL caps
    _, _, rows, retried = runner.run("SELECT count(*) AS n FROM region")
    assert rows[0][0] == 5 and not retried
