"""Local replica of the driver's correctness gate.

Runs every registered query on Spark and its oracle on DuckDB at the given
scale factor, compares row count, sorted-column schema, and an
order-insensitive value hash. Use while iterating so mismatches surface
before the driver's round check.

Usage: python tools/check_correctness.py [--strict] [sf_dir] [query ...]

``--strict`` compares floats by full-precision ``repr`` instead of the
9-digit canonicalization — stricter than any plausible driver comparator,
so a strict-green query cannot flip red on rounding grounds.
"""

from __future__ import annotations

import gc
import os
import hashlib
import sys

import duckdb

sys.path.insert(0, ".")

from financial_data_engineering_spark import queries as q
from financial_data_engineering_spark.schemas import TPCH_TABLES
from financial_data_engineering_spark.session import get_spark

STRICT = False


def value_hash(rows: list[tuple], columns: list[str]) -> str:
    """Order-insensitive hash over stringified cells, columns sorted by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(
        "\x1f".join(_cell(row[i]) for i in order) for row in rows
    )
    return hashlib.md5("\x1e".join(canon).encode()).hexdigest()


def _cell(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, float):
        return repr(v) if STRICT else repr(round(v, 9))
    return str(v)


#: DuckDB int128 types. The driver's value hash is dtype-sensitive, so an
#: oracle emitting these (bare ``sum()``, ``//`` over a sum-derived operand)
#: hash-mismatches Spark's BIGINT even when every value is equal — the exact
#: failure mode of the three r4 red rows. Hard-fail locally.
_HUGE = {"HUGEINT", "UHUGEINT"}


def _type_class(t: str) -> str:
    """Collapse a Spark dtype / DuckDB type string to a comparable class."""
    t = t.strip().upper()
    if t.startswith("DECIMAL"):
        return "decimal"
    if t.endswith("[]") or t.startswith("ARRAY"):
        return "array"
    if t.startswith("STRUCT") or t.startswith("MAP"):
        return "nested"
    if t in {
        "TINYINT", "SMALLINT", "INTEGER", "INT", "BIGINT",
        "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT",
    }:
        return "int"
    if t in {"FLOAT", "REAL", "DOUBLE"}:
        return "float"
    if t in {"VARCHAR", "STRING", "TEXT", "CHAR"}:
        return "string"
    if t == "BOOLEAN":
        return "bool"
    if t == "DATE":
        return "date"
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    if t in {"BLOB", "BINARY"}:
        return "binary"
    return t.lower()


def _dtype_problems(s_dtypes, o_cols, o_types) -> list[str]:
    """HUGEINT columns and Spark-vs-DuckDB type-class divergence."""
    problems = []
    huge = [
        f"{c}:{t}"
        for c, t in zip(o_cols, o_types)
        if str(t).upper() in _HUGE
    ]
    if huge:
        problems.append(
            f"oracle int128 column(s) {huge} — CAST(... AS BIGINT); "
            "driver hash is dtype-sensitive"
        )
    s_map = {c: _type_class(t) for c, t in s_dtypes}
    o_map = {c: _type_class(str(t)) for c, t in zip(o_cols, o_types)}
    diverged = [
        f"{c}: spark {s_map[c]} vs oracle {o_map[c]}"
        for c in sorted(set(s_map) & set(o_map))
        if s_map[c] != o_map[c]
    ]
    if diverged:
        problems.append("dtype class mismatch: " + "; ".join(diverged))
    return problems


#: DuckDB resource-exhaustion error classes a raised memory cap + sized
#: spill dir can fix. The r10 sf10 `part_copurchase_communities` oracle
#: died on temp-storage exhaustion and passed on a MANUAL standalone
#: rerun at FDES_DUCKDB_MEM=40GB (reports/gate/r10_local_sf10_strict_spot
#: .log) — OracleRunner encodes that rerun so no gate needs a manual one
#: again. FatalException is included because an OOM mid-operator can
#: invalidate the whole database, which surfaces as Fatal on this or the
#: NEXT statement; the retry therefore always rebuilds the connection.
_RETRYABLE_ORACLE_ERRORS = (
    duckdb.OutOfMemoryException,
    duckdb.IOException,
    duckdb.FatalException,
)

#: DuckDB maps some resource exhaustion onto classes outside the tuple
#: (the r11 sf10 kcore oracle died with "failed to pin block of size
#: 256.0 KiB (37.2 GiB/37.2 GiB used)" WITHOUT tripping the class-based
#: retry — the gate's one silent-bypass case), so detection goes by
#: class OR message.
_RESOURCE_PHRASES = (
    "Out of Memory",
    "No space left",
    "failed to pin block",
    "max_temp_directory_size",
)


def _is_resource_exhaustion(exc: Exception) -> bool:
    if isinstance(exc, _RETRYABLE_ORACLE_ERRORS):
        return True
    msg = str(exc)
    return isinstance(exc, duckdb.Error) and any(
        p in msg for p in _RESOURCE_PHRASES
    )


#: Parent of every per-connection DuckDB spill subdirectory.
SPILL_BASE = ".tmp/duckdb_spill"


def _reap_stale_spill_dirs() -> None:
    """Reclaim spill subdirs left by DEAD processes. Graceful closes
    leave empty ``c<pid>_<seq>`` dirs; an aborted run (the DuckDB 1.0
    std::terminate scenario the per-connection dirs exist for) strands
    full spill files no later run reuses — on the 78 GB shared disk a
    stranded multi-GB spill silently shrinks headroom for every
    subsequent big gate. Best-effort: only dirs whose embedded pid is
    provably not alive are removed; live gates are never touched."""
    import re
    import shutil

    try:
        entries = os.listdir(SPILL_BASE)
    except OSError:
        return
    for entry in entries:
        m = re.fullmatch(r"c(\d+)_\d+", entry)
        if not m or int(m.group(1)) == os.getpid():
            continue
        try:
            os.kill(int(m.group(1)), 0)
            continue  # pid alive — its run may still be spilling
        except ProcessLookupError:
            pass  # dead owner: safe to reclaim
        except PermissionError:
            continue  # alive under another uid
        shutil.rmtree(os.path.join(SPILL_BASE, entry), ignore_errors=True)


class OracleRunner:
    """DuckDB oracle executor with a one-shot resource-escalation retry.

    Base run uses ``mem`` (default env FDES_DUCKDB_MEM or 32GB) — capped
    well below physical RAM so the oracle SPILLS under pressure instead
    of fighting the Spark JVM heap for the same box. On a resource-
    exhaustion failure (OOM / IO / Fatal) the runner rebuilds the
    connection ONCE at ``retry_mem`` (env FDES_DUCKDB_MEM_RETRY, 40GB)
    with an explicit ``retry_temp`` spill-dir size cap (env
    FDES_DUCKDB_TEMP_RETRY, 200GB) and re-runs the statement. A fresh
    connection — not a SET on the old one — because a Fatal error
    invalidates the database object. Escalated caps persist for the
    remaining queries of the session: caps only ever go up, and a later
    query that needed the old behavior just spills less. Under DuckDB
    1.0.0 the ``retry_temp`` cap bounds only standard 256 KiB blocks:
    spill buffers larger than that are not counted against it.
    """

    def __init__(
        self,
        sf_dir: str,
        mem: str | None = None,
        retry_mem: str | None = None,
        retry_temp: str | None = None,
        temp: str | None = None,
    ) -> None:
        self.sf_dir = sf_dir
        self.retry_mem = retry_mem or os.environ.get(
            "FDES_DUCKDB_MEM_RETRY", "40GB"
        )
        self.retry_temp = retry_temp or os.environ.get(
            "FDES_DUCKDB_TEMP_RETRY", "200GB"
        )
        # ``temp`` caps the BASE connection's spill dir — unset in the
        # gate (unlimited); the forced-spill test uses it to provoke
        # the exhaustion class, which DuckDB raises only at a small
        # per-thread memory share (many threads under a low mem cap).
        _reap_stale_spill_dirs()
        self._base_mem = mem or os.environ.get("FDES_DUCKDB_MEM", "32GB")
        self._base_temp = temp
        self.con = self._connect(self._base_mem, temp)

    #: class-level counter so every connection gets its OWN spill
    #: subdirectory: after a No-space failure, the old connection's
    #: destructor and the escalated connection raced on the SHARED
    #: dir's temp files and DuckDB 1.0 aborted the whole process from
    #: a C++ destructor (std::terminate — not catchable from Python;
    #: observed in the r12 sf10 triangles retry).
    _conn_seq = 0

    def _connect(self, mem: str, temp_size: str | None):
        con = duckdb.connect()
        con.execute(f"SET memory_limit='{mem}'")
        # DuckDB only creates the LEAF directory of temp_directory — a
        # missing parent fails the first spill with "IO Error: Failed
        # to create directory" (the r10 sf10 kcore oracle died on this
        # after a clean checkout dropped the ignored .tmp/).
        OracleRunner._conn_seq += 1
        spill = f"{SPILL_BASE}/c{os.getpid()}_{OracleRunner._conn_seq}"
        os.makedirs(spill, exist_ok=True)
        con.execute(f"SET temp_directory='{spill}'")
        if temp_size:
            con.execute(f"SET max_temp_directory_size='{temp_size}'")
        for t in TPCH_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM"
                f" '{self.sf_dir}/{t}.parquet'"
            )
        return con

    def run(self, sql: str, _rebuilt: bool = False):
        """Execute, escalating once on resource exhaustion.

        Returns (columns, type-strings, rows, retried).

        Failure isolation: whatever happens to THIS query, the runner
        leaves ``self.con`` usable for the next one. The r13 sf10 run
        showed the cascade otherwise: a failed escalation (the fresh
        connection's _connect itself OOMed after the old one was
        closed) left a dead handle, and every later query in the gate
        failed with "Connection has already been closed".
        """
        try:
            rel = self.con.sql(sql)
            return rel.columns, [str(t) for t in rel.types], rel.fetchall(), False
        except duckdb.ConnectionException:
            # dead handle from a previous query's failed escalation —
            # rebuild at base caps, then re-enter the NORMAL run path so
            # the escalation ladder still applies if the re-run itself
            # exhausts resources (an exception raised inside this except
            # block would NOT be caught by the sibling duckdb.Error
            # handler). _rebuilt bounds this to one re-entry.
            if _rebuilt:
                raise
            self.con = self._connect(self._base_mem, self._base_temp)
            return self.run(sql, _rebuilt=True)
        except duckdb.Error as exc:
            if not _is_resource_exhaustion(exc):
                raise
            print(
                f"      oracle retry ({type(exc).__name__}:"
                f" {str(exc)[:100]}) -> memory_limit={self.retry_mem},"
                f" max_temp_directory_size={self.retry_temp}"
            )
            try:
                self.con.close()
            except Exception:  # noqa: BLE001 — already-invalidated handle
                pass
            try:
                self.con = self._connect(self.retry_mem, self.retry_temp)
                rel = self.con.sql(sql)
                return (
                    rel.columns,
                    [str(t) for t in rel.types],
                    rel.fetchall(),
                    True,
                )
            except Exception:
                # escalation failed too: restore a base-caps connection
                # so the NEXT query is not poisoned, then report this
                # one's failure honestly
                try:
                    self.con.close()
                except Exception:  # noqa: BLE001
                    pass
                try:
                    self.con = self._connect(self._base_mem, self._base_temp)
                except Exception:  # noqa: BLE001 — next run() retries
                    pass
                raise


def main() -> int:
    global STRICT
    args = sys.argv[1:]
    if args and args[0] == "--strict":
        STRICT = True
        args = args[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    spark = get_spark("correctness-check")
    # Huge-SF evidence runs: push checkpoint blocks to disk (or a
    # serialized level) so live round frames don't compete with the
    # query's own execution memory. See partitioning.materialize.
    level = os.environ.get("FDES_MATERIALIZE_LEVEL")
    if level:
        spark.conf.set("spark.fdes.materialize.storageLevel", level)

    oracle = OracleRunner(sf_dir)

    queries = q.all_queries()
    oracles = q.all_oracles()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_dtypes = sdf.dtypes
            s_rows = [tuple(r) for r in sdf.collect()]
            spark.catalog.clearCache()  # drop operator-persisted intermediates
            # localCheckpoint blocks are NOT catalog-cached: they release
            # only when the driver-side references die and ContextCleaner
            # runs. Without this, a multi-query session accumulates every
            # materialized frame (the sf10 spot gate OOM-killed the JVM at
            # 82 GB RSS on exactly this).
            del sdf
            gc.collect()
            spark.sparkContext._jvm.System.gc()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error: {exc}")
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(s_rows)} rows (no oracle)")
            continue
        try:
            o_cols, o_types, o_rows, retried = oracle.run(oracles[name])
            if retried:
                print(f"      {name}: oracle green after escalation retry")
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: oracle error: {exc}")
            continue
        problems = []
        if len(s_rows) != len(o_rows):
            problems.append(f"rows {len(s_rows)} vs {len(o_rows)}")
        if sorted(s_cols) != sorted(o_cols):
            problems.append(f"cols {sorted(s_cols)} vs {sorted(o_cols)}")
        else:
            problems.extend(_dtype_problems(s_dtypes, o_cols, o_types))
            if value_hash(s_rows, s_cols) != value_hash(o_rows, o_cols):
                problems.append("value hash mismatch")
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)}")
            if "value hash mismatch" in problems:
                _show_diff(s_rows, s_cols, o_rows, o_cols)
        else:
            print(f"OK    {name} ({len(s_rows)} rows)")
    print(f"\n{len(failures)} failures" if failures else "\nall green")
    return 1 if failures else 0


def _show_diff(s_rows, s_cols, o_rows, o_cols, limit=3):
    order_s = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
    order_o = sorted(range(len(o_cols)), key=lambda i: o_cols[i])
    s_set = sorted("|".join(_cell(r[i]) for i in order_s) for r in s_rows)
    o_set = sorted("|".join(_cell(r[i]) for i in order_o) for r in o_rows)
    s_only = [r for r in s_set if r not in set(o_set)][:limit]
    o_only = [r for r in o_set if r not in set(s_set)][:limit]
    print(f"      cols: {sorted(s_cols)}")
    for r in s_only:
        print(f"      spark-only: {r}")
    for r in o_only:
        print(f"      oracle-only: {r}")


if __name__ == "__main__":
    sys.exit(main())
