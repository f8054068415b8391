"""Independent replay of landed change files in DuckDB.

The rule is the one DMS-to-Hudi promises: per record key keep the change
with the greatest ``trx_seq`` (a zero-padded string, compared as a
string), then drop keys whose winning change is a delete.  The SQL here is
the benchmark's own; it shares no text with the program under test.
"""

from __future__ import annotations

from pathlib import Path

import duckdb

from gen import TableSpec


class Replay:
    """Replay state kept round by round.

    ``state`` holds the winning change of every key seen so far, deletes
    included, so a later change with a smaller ``trx_seq`` still loses.
    Applying a batch: take the batch's own winner per key, replace state
    rows that the winner beats, insert keys the state has not seen.
    ``full()`` recomputes the same answer from all files at once, which is
    the literal rule; the two agree by construction and the end-of-run
    check uses ``full()``.
    """

    def __init__(self, spec: TableSpec):
        self.spec = spec
        self.keys = ", ".join(spec.key)
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.files: list[str] = []

    def _winners(self, src: str) -> str:
        return (f"SELECT * FROM {src} QUALIFY row_number() OVER "
                f"(PARTITION BY {self.keys} ORDER BY trx_seq DESC) = 1")

    def apply(self, path: Path) -> None:
        self.files.append(str(path))
        src = f"read_parquet('{path}')"
        if len(self.files) == 1:
            self.con.execute(f"CREATE TABLE state AS {self._winners(src)}")
            return
        join = " AND ".join(f"s.{k} = w.{k}" for k in self.spec.key)
        self.con.execute(f"CREATE OR REPLACE TEMP TABLE w AS {self._winners(src)}")
        self.con.execute(f"DELETE FROM state s USING w WHERE {join} AND w.trx_seq > s.trx_seq")
        self.con.execute(
            f"INSERT INTO state SELECT w.* FROM w WHERE NOT EXISTS "
            f"(SELECT 1 FROM state s WHERE {join})")

    def live(self) -> str:
        """SQL relation of the current table state."""
        return "(SELECT * EXCLUDE (_hoodie_is_deleted) FROM state WHERE NOT _hoodie_is_deleted)"

    def last_batch_changes(self) -> set[tuple]:
        """Keys and ``trx_seq`` an incremental read of the last batch must
        return: the batch's winner per key, deletes dropped."""
        cols = f"{self.keys}, trx_seq"
        return set(self.con.execute(
            f"SELECT {cols} FROM w WHERE NOT _hoodie_is_deleted").fetchall())

    def query(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    def full(self) -> str:
        """Whole-log replay of every applied file, as a SQL relation."""
        files = ", ".join(f"'{f}'" for f in self.files)
        return (f"(SELECT * EXCLUDE (_hoodie_is_deleted) FROM ("
                f"{self._winners(f'read_parquet([{files}])')}) "
                f"WHERE NOT _hoodie_is_deleted)")

    def close(self) -> None:
        self.con.close()
