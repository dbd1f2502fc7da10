"""Performance/SLA bookkeeping — the reference's perfdb equivalent.

The reference records per-(graph, command, partition_count) latencies in a
SQLite perfdb and uses them for SLA-aware admission (ddl/perfdb.sql;
CypherQueryExecutor.cpp:164-189,366-376; JobScheduler.cpp:79-105 can
reject high-priority jobs whose SLA cannot be met). Here the same records
live in one stdlib ``sqlite3`` file and the admission check is a simple
estimate lookup — scheduling itself belongs to Spark/YARN/K8s.

Each ``record`` is one committed sqlite transaction (insert plus the
per-key history trim), so sqlite's rollback journal is the crash-safe
write: a crash leaves either the old or the new ledger, never a torn one.
"""

from __future__ import annotations

import os
import sqlite3
import statistics
import time
from contextlib import closing, contextmanager
from dataclasses import dataclass

_SCHEMA = """
CREATE TABLE IF NOT EXISTS perf (
    name TEXT NOT NULL, command TEXT NOT NULL, partitions INTEGER NOT NULL,
    seconds REAL NOT NULL, ts REAL NOT NULL);
CREATE INDEX IF NOT EXISTS perf_key ON perf (name, command);
"""


@dataclass
class PerfCatalog:
    path: str

    #: per-(name, command) history cap: `record` keeps the newest
    #: KEEP_LAST records for each key, so `estimate` reads stay bounded no
    #: matter how many distinct per-query fingerprints (`cypher:<md5-8>`)
    #: a long session accumulates — the reference perfdb's rolling window
    #: per sla_category.
    KEEP_LAST = 32

    @contextmanager
    def _db(self):
        """A connection whose block is one transaction: committed on exit,
        rolled back on error, closed either way."""
        os.makedirs(os.path.dirname(os.path.abspath(self.path)), exist_ok=True)
        with closing(sqlite3.connect(self.path)) as con:
            con.executescript(_SCHEMA)
            with con:
                yield con

    def record(self, name: str, command: str, partitions: int, seconds: float) -> None:
        with self._db() as con:
            con.execute(
                "INSERT INTO perf VALUES (?, ?, ?, ?, ?)",
                (name, command, int(partitions), float(seconds), time.time()),
            )
            con.execute(
                "DELETE FROM perf WHERE name = ? AND command = ? AND rowid NOT IN"
                " (SELECT rowid FROM perf WHERE name = ? AND command = ?"
                "  ORDER BY rowid DESC LIMIT ?)",
                (name, command, name, command, self.KEEP_LAST),
            )

    @contextmanager
    def timed(self, name: str, command: str, partitions: int = 0):
        t0 = time.perf_counter()
        yield
        self.record(name, command, partitions, time.perf_counter() - t0)

    def history(self) -> list:
        """Every record as a ``(name, command, partitions, seconds, ts)``
        tuple, oldest first."""
        with self._db() as con:
            return con.execute("SELECT * FROM perf ORDER BY rowid").fetchall()

    def _by_command(self, name: str) -> list:
        with self._db() as con:
            return con.execute(
                "SELECT command, seconds FROM perf WHERE name = ?", (name,)
            ).fetchall()

    def estimate(self, name: str, command: str) -> float | None:
        """Median observed latency for (name, command) — the calibration
        value the reference's SLA admission compares against. The lower
        median, so the estimate is always a latency that was observed."""
        return _median_low(s for c, s in self._by_command(name) if c == command)

    def estimate_family(self, name: str, family: str) -> float | None:
        """Median latency across a whole command FAMILY — the rollup the
        reference's perfdb exposes via `sla_category` aggregation
        (ddl/perfdb.sql). With r8's per-query fingerprint keying
        (`cypher:<md5-8>`), per-key `estimate` drives admission while
        this rollup answers family-level introspection ("how slow is
        cypher on this graph overall?"). Matches both the bare family
        name and any `family:<fingerprint>` key."""
        return _median_low(
            s for c, s in self._by_command(name)
            if c == family or c.startswith(family + ":")
        )

    def admits(self, name: str, command: str, sla_seconds: float) -> bool:
        """SLA admission: accept when unknown or estimated within the SLA
        (JobScheduler.cpp:79-93 semantics, minus the rejection queue)."""
        est = self.estimate(name, command)
        return est is None or est <= sla_seconds


def _median_low(seconds) -> float | None:
    seconds = list(seconds)
    return statistics.median_low(seconds) if seconds else None
