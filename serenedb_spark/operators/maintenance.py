"""Search-table DML + refresh/compaction — the eventually-consistent index
maintenance loop re-expressed on DataFrames.

Reference semantics: search-table insert/update/delete/truncate write WAL
entries stamped by a monotonic tick; a background refresh makes them
visible and compaction merges segments
(server/connector/duckdb_physical_search_insert.cpp, _update.cpp,
_delete.cpp, _truncate.cpp; server/search/search_db_wal.cpp,
server/search/task.h:32-43, tick_domain.h:29-45).

Spark-first translation:
  * each insert batch is a NEW SEGMENT in a tick-ordered op log: the
    batch's rows as a DataFrame, nothing indexed yet;
  * deletes are TOMBSTONES (a doc_id set) — anti-joined at read time;
  * update = delete + insert (same as the reference's search update);
  * ``index()`` produces the visible snapshot: it folds the log into one
    base relation (segment rows minus later tombstones and same-key
    replacements) and runs build_index over ALL of it. Nothing is built
    per segment: every refresh re-tokenizes every live row, so its cost
    grows with the table and with the fold depth. Term statistics come
    from that one build, so deleted docs never pollute df/avgdl
    (exactness the reference only regains after compaction);
  * ``compact()`` materializes the merged state into a single segment —
    the reference's compaction coordinator collapsed to one Spark job.
    At 100 TB this is a partitioned parquet rewrite of only the term
    buckets touched since the last compaction.

The tick counter orders batches; a read sees exactly the batches with
tick <= the snapshot tick (reference tick_domain semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from serenedb_spark.operators.indexing import InvertedIndex, build_index


class SearchTable:
    """An indexed table supporting insert/update/delete/truncate with
    snapshot reads — ``index()`` returns a normal InvertedIndex, so every
    search/scoring/facet operator works on the maintained state unchanged.
    """

    def __init__(self, source: DataFrame, fields: dict[str, str],
                 key: str = "doc_id", name: str = "search_table"):
        self.fields = dict(fields)
        self.key = key
        self.name = name
        self._tick = 0
        self._empty = source.limit(0)
        # tick-ordered op log, the WAL: ("seg", rows) | ("del", ids)
        self._ops: list[tuple[str, DataFrame]] = [("seg", source)]
        self._spark = source.sparkSession

    # ---- DML (each call = one WAL batch, one tick) -----------------------
    def insert(self, rows: DataFrame) -> int:
        """Append rows as a new segment. Returns the batch tick."""
        self._tick += 1
        self._ops.append(("seg", rows))
        return self._tick

    def delete(self, doc_ids: DataFrame) -> int:
        """Tombstone the given keys (column must match the table key).
        Only rows from batches with a smaller tick are affected — a later
        re-insert of the same key is visible (tick_domain ordering)."""
        self._tick += 1
        self._ops.append(("del", doc_ids.select(self.key).distinct()))
        return self._tick

    def update(self, rows: DataFrame) -> int:
        """Delete-then-insert, the reference's search-update shape
        (duckdb_physical_search_update.cpp)."""
        self.delete(rows.select(self.key))
        return self.insert(rows)

    def truncate(self) -> int:
        self._tick += 1
        self._ops = [("seg", self._empty)]
        return self._tick

    # ---- reads -----------------------------------------------------------
    def current(self) -> DataFrame:
        """The visible base relation: fold the op log in tick order — later
        inserts replace same-key rows, deletes tombstone everything earlier.
        Fold depth = batches since last compact(); compact to keep it flat."""
        out = None
        for kind, df in self._ops:
            if kind == "seg":
                if out is None:
                    out = df
                else:
                    out = out.join(
                        df.select(self.key), self.key, "left_anti"
                    ).unionByName(df)
            else:
                out = out.join(df, self.key, "left_anti")
        return out if out is not None else self._empty

    def index(self) -> InvertedIndex:
        """Refresh: build the visible snapshot's index from scratch over
        `current()`, the folded base relation; stats are exact over the
        merged state. No postings are kept per segment between calls."""
        return build_index(self.current(), self.fields, key=self.key,
                           name=self.name)

    def compact(self) -> "SearchTable":
        """Collapse all segments + tombstones into one materialized segment
        (the compaction job). Returns self for chaining."""
        merged = self.current().persist()
        merged.count()  # materialize now — the 'segment write'
        self._ops = [("seg", merged)]
        return self


#: fault-injection points (the reference's ``SET sdb_faults`` analogue,
#: tests/sqllogic/recovery/): tests add point names here and the next
#: crossing raises InjectedFault — the recovery matrix
#: (tests/test_recovery_faults.py) drives every DML/maintenance
#: interleaving through a crash and reopens from disk.
FAULTS: set[str] = set()


class InjectedFault(RuntimeError):
    pass


def _fault(name: str) -> None:
    if name in FAULTS:
        raise InjectedFault(name)


class DiskSearchTable:
    """Durable segmented search table — the on-disk twin of SearchTable.

    Each DML batch persists a parquet segment under ``path/segments/``;
    visibility is pinned by ``manifest.json``, rewritten ATOMICALLY
    (tmp + rename) after the segment data is fully written. A crash
    between the two leaves the previous manifest — readers see the old
    snapshot, never a torn one. Reopening from path replays the manifest:
    that's the reference's WAL recovery collapsed onto the filesystem
    (search_db_wal.cpp + wal_recovery.cpp; tick_domain ordering).

    At 100 TB each segment is just parquet: appends never rewrite old
    data, ``compact()`` is the only rewriting job, and ``vacuum()``
    removes segment directories no manifest references (the reference's
    cleanup task)."""

    def __init__(self, spark, path: str, fields: dict[str, str],
                 key: str, name: str, tick: int,
                 ops: list[tuple[int, str, str]]):
        self._spark = spark
        self.path = path
        self.fields = dict(fields)
        self.key = key
        self.name = name
        self._tick = tick
        self._ops = list(ops)  # (tick, "seg"|"del", relpath)
        self._snapshot = False  # open(tick=N): read-only time travel

    # ---- lifecycle -------------------------------------------------------
    @classmethod
    def create(cls, source: DataFrame, path: str, fields: dict[str, str],
               key: str = "doc_id", name: str = "search_table"
               ) -> "DiskSearchTable":
        import os

        os.makedirs(f"{path}/segments", exist_ok=True)
        st = cls(source.sparkSession, path, fields, key, name, 0, [])
        st._append("seg", source)
        return st

    @classmethod
    def open(cls, spark, path: str, tick: int | None = None
             ) -> "DiskSearchTable":
        """Recovery: the manifest IS the committed state. With ``tick``,
        open a TIME-TRAVEL snapshot: only ops with tick ≤ N are replayed
        (the reference's tick_domain snapshot reads — every committed
        tick remains a consistent readable state until vacuum). A
        snapshot handle is read-only by convention; writing through it
        would fork history, so DML raises."""
        import json

        from serenedb_spark.functions.key_encoding import ENCODING_VERSION

        with open(f"{path}/manifest.json") as f:
            m = json.load(f)
        # refuse to mix persisted key encodings: the \x00-escape byte
        # changed in ENCODING_VERSION 2 (key_encoding.py docstring), so a
        # table written under another version must be rebuilt, not read
        kev = m.get("key_encoding_version", ENCODING_VERSION)
        if kev != ENCODING_VERSION:
            raise ValueError(
                f"table at {path} was written with key_encoding_version "
                f"{kev}, engine is {ENCODING_VERSION}: encoded-key order "
                "is not compatible across versions — rebuild the table"
            )
        ops = [tuple(op) for op in m["ops"]]
        if tick is None:
            return cls(spark, path, m["fields"], m["key"], m["name"],
                       m["tick"], ops)
        ops = [op for op in ops if op[0] <= tick]
        inst = cls(spark, path, m["fields"], m["key"], m["name"],
                   tick, ops)
        inst._snapshot = True
        return inst

    def _forbid_snapshot_writes(self) -> None:
        if self._snapshot:
            raise ValueError(
                "time-travel snapshot is read-only (writing would fork "
                "history); open() without tick for the live table"
            )

    def _write_manifest(self) -> None:
        import json
        import os

        tmp = f"{self.path}/manifest.json.tmp"
        with open(tmp, "w") as f:
            from serenedb_spark.functions.key_encoding import (
                ENCODING_VERSION,
            )

            json.dump({
                "fields": self.fields, "key": self.key, "name": self.name,
                "tick": self._tick, "ops": self._ops,
                "layout_version": 1,
                "key_encoding_version": ENCODING_VERSION,
            }, f, indent=2)
        _fault("manifest_tmp_written")  # crash: tmp exists, commit not
        os.replace(tmp, f"{self.path}/manifest.json")  # the commit point
        _fault("manifest_committed")

    def _append(self, kind: str, df: DataFrame) -> int:
        self._forbid_snapshot_writes()
        self._tick += 1
        rel = f"segments/{kind}_{self._tick:08d}"
        out = df if kind == "seg" else df.select(self.key).distinct()
        out.write.mode("overwrite").parquet(f"{self.path}/{rel}")
        _fault("segment_written")  # crash: orphan segment, old manifest
        self._ops.append((self._tick, kind, rel))
        self._write_manifest()  # data durable BEFORE visibility flips
        return self._tick

    # ---- DML -------------------------------------------------------------
    def insert(self, rows: DataFrame) -> int:
        return self._append("seg", rows)

    def delete(self, doc_ids: DataFrame) -> int:
        return self._append("del", doc_ids)

    def update(self, rows: DataFrame) -> int:
        """Delete-then-insert as ONE commit: both segments are written
        first, then a single manifest rewrite makes them visible together —
        a crash mid-update leaves the pre-update snapshot, never a state
        with the rows deleted but not reinserted."""
        self._forbid_snapshot_writes()
        del_tick = self._tick + 1
        seg_tick = self._tick + 2
        del_rel = f"segments/del_{del_tick:08d}"
        seg_rel = f"segments/seg_{seg_tick:08d}"
        rows.select(self.key).distinct().write.mode("overwrite").parquet(
            f"{self.path}/{del_rel}")
        _fault("update_del_written")  # crash: only the del half on disk
        rows.write.mode("overwrite").parquet(f"{self.path}/{seg_rel}")
        _fault("update_seg_written")  # crash: both halves, no commit
        self._tick = seg_tick
        self._ops.append((del_tick, "del", del_rel))
        self._ops.append((seg_tick, "seg", seg_rel))
        self._write_manifest()  # the single commit point
        return seg_tick

    # ---- reads -----------------------------------------------------------
    def current(self) -> DataFrame:
        out = None
        for _tick, kind, rel in self._ops:
            df = self._spark.read.parquet(f"{self.path}/{rel}")
            if kind == "seg":
                out = df if out is None else out.join(
                    df.select(self.key), self.key, "left_anti"
                ).unionByName(df)
            else:
                out = out.join(df, self.key, "left_anti")
        if out is None:
            raise ValueError("empty table: no segments")
        return out

    def index(self) -> InvertedIndex:
        return build_index(self.current(), self.fields, key=self.key,
                           name=self.name)

    # ---- maintenance -----------------------------------------------------
    def compact(self) -> "DiskSearchTable":
        """Materialize the visible state into ONE segment and atomically
        repoint the manifest at it (old segments stay until vacuum)."""
        merged = self.current()
        self._tick += 1
        rel = f"segments/seg_{self._tick:08d}"
        merged.write.mode("overwrite").parquet(f"{self.path}/{rel}")
        _fault("compact_segment_written")  # crash: repoint not committed
        self._ops = [(self._tick, "seg", rel)]
        self._write_manifest()
        return self

    def vacuum(self) -> int:
        """Delete segment directories the manifest no longer references."""
        import os
        import shutil

        live = {rel.split("/", 1)[1] for _t, _k, rel in self._ops}
        removed = 0
        for d in sorted(os.listdir(f"{self.path}/segments")):
            if d not in live:
                shutil.rmtree(f"{self.path}/segments/{d}")
                removed += 1
                _fault("vacuum_after_first_delete")
        return removed
