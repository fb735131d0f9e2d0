"""LIVE VIEW + WATCH (reference StorageLiveView,
/root/reference/src/Storages/LiveView/StorageLiveView.h:47, and
InterpreterWatchQuery, /root/reference/src/Interpreters/
InterpreterWatchQuery.h).

The reference's LIVE VIEW holds the continuously re-evaluated result of
a query over regular tables: every INSERT into a source table bumps the
view's VERSION and recomputes the stored result; WATCH blocks until the
version changes and streams (result, _version) pairs.

Spark mapping: the query is a DataFrame recipe; `notify_insert`
(called by the same insert hooks that drive the incremental matview
cascade) marks the view dirty, and the result materializes lazily —
Spark's lazy plans mean re-evaluation costs exactly one job per
observed version, and a burst of inserts between reads coalesces to
ONE recompute (the reference coalesces through its refresh queue the
same way). WATCH is a generator over versions, CH's
`WATCH lv [LIMIT n]` contract.

Scale: the recompute is whatever the query plan costs — the view adds
no operator of its own; state kept is one collected RESULT (LIVE VIEW
results are presentation-sized by contract; the reference also
materializes the full result block in memory)."""

from __future__ import annotations

import threading
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from clickhouse_25_5_3_75_stable_spark.sources.catalog import local_rows

# name -> LiveView, the session's registry (serves WATCH by name)
LIVE_VIEWS: dict[str, "LiveView"] = {}


@dataclass
class LiveView:
    name: str
    query: "callable"  # (spark) -> DataFrame
    source_tables: tuple[str, ...] = ()
    _version: int = 0
    _dirty: bool = True
    _rows: list = field(default_factory=list)
    _cols: list = field(default_factory=list)
    _schema: object = None
    _cond: threading.Condition = field(default_factory=threading.Condition)

    def __post_init__(self):
        LIVE_VIEWS[self.name] = self

    def notify_insert(self, table: str | None = None) -> None:
        """An INSERT into a source table invalidates the view: version
        bumps on the NEXT read (burst coalescing), watchers wake."""
        if table is not None and self.source_tables and table not in self.source_tables:
            return
        with self._cond:
            self._dirty = True
            self._cond.notify_all()

    def _materialize(self, spark: SparkSession) -> None:
        df = self.query(spark)
        self._cols = df.columns
        # schema captured WITH the rows: a later schema change in the
        # source must not be paired with stale-width cached rows, and a
        # clean read must not re-pay the query's analysis (review-found)
        self._schema = df.schema.add("_version", "long", False)
        self._rows = [tuple(r) for r in df.collect()]
        self._version += 1
        self._dirty = False

    def read(self, spark: SparkSession) -> DataFrame:
        """SELECT * FROM lv: the current result plus _version (the
        reference exposes the same virtual column)."""
        with self._cond:
            if self._dirty:
                self._materialize(spark)
            rows = [r + (self._version,) for r in self._rows]
            schema = self._schema
        return local_rows(spark, rows, schema)

    def watch(self, spark: SparkSession, limit: int | None = None,
              timeout_s: float = 30.0):
        """WATCH lv [LIMIT n]: yield (rows, version) — the current
        result immediately (the reference sends the initial state
        first), then once per version change, up to `limit` heartbeats
        (None = until timeout)."""
        sent = 0
        last_seen = -1
        while limit is None or sent < limit:
            with self._cond:
                if not self._dirty and self._version == last_seen:
                    if not self._cond.wait(timeout=timeout_s):
                        return  # timed out with no new version
                if self._dirty:
                    self._materialize(spark)
                if self._version == last_seen:
                    continue
                last_seen = self._version
                rows = list(self._rows)
            yield rows, last_seen
            sent += 1


def drop_live_view(name: str) -> None:
    LIVE_VIEWS.pop(name, None)


def notify_all_views(table: str) -> None:
    """Called by insert paths: wake every live view sourced from it."""
    for lv in list(LIVE_VIEWS.values()):
        lv.notify_insert(table)
