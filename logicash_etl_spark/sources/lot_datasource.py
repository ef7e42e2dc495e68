"""Custom Python DataSource (Spark 4 DataSource API): the reference's
``_READY``-flag lot protocol as a first-class readable format.

The reference's ingestion contract (data_gen/generator.py:177-192 +
main.tf:821-842): a producer drops CSV files into a lot directory and
writes a ``_READY`` flag LAST; consumers must only ever read lots whose
flag exists (files-without-flag are mid-upload). The engine already
exposes this as a file-stream (streaming/sources.py); this module makes
it a batch *format*:

    spark.dataSource.register(LotDataSource)
    spark.read.format("logicash_lot").schema(sch) \
        .option("path", root).load()

- lot discovery and the READY gate run on the driver (a listing, not
  data); each data FILE becomes an ``InputPartition``, so a 1000-file
  lot fans out across the cluster like any native scan;
- rows are parsed per the USER-declared schema (the API requires an
  explicit schema — same posture as the engine's CSV readers:
  production scans never infer);
- unflagged lots are skipped silently by contract (they will be read
  once their flag lands — exactly the EventBridge semantics).

This is the extension point for sources Spark has no connector for
(internal wire formats, ticket APIs, ...): the plumbing — partition
planning on the driver, per-partition iterators on executors — is the
same for any of them.
"""

from __future__ import annotations

import csv
import os
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    IsNotNull,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql import types as T


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


def _ready_lot_files(root: str) -> list[str]:
    """Data files of every READY lot under ``root``.

    Layout: root/<lot>/_READY gates root/<lot>/<table_or_file>/...;
    a bare root/_READY gates root itself. Only ``.csv`` parts are
    data (Spark's _SUCCESS etc. are ignored).
    """
    lots: list[str] = []
    if os.path.exists(os.path.join(root, "_READY")):
        lots.append(root)
    else:
        for name in sorted(os.listdir(root)):
            lot = os.path.join(root, name)
            if os.path.isdir(lot) and os.path.exists(os.path.join(lot, "_READY")):
                lots.append(lot)
    files: list[str] = []
    for lot in lots:
        for dirpath, dirnames, filenames in os.walk(lot):
            # dot-dirs are writer staging areas (phase-1 parts of an
            # in-flight append) — never data, even under a _READY flag
            dirnames[:] = [d for d in dirnames if not d.startswith(".")]
            for fn in sorted(filenames):
                if fn.endswith(".csv"):
                    files.append(os.path.join(dirpath, fn))
    return files


def _cast(value: str, dtype: T.DataType):
    if value == "" or value is None:
        return None
    if isinstance(dtype, (T.IntegerType, T.LongType, T.ShortType, T.ByteType)):
        return int(value)
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return float(value)
    if isinstance(dtype, T.BooleanType):
        return value.lower() in ("true", "1", "t")
    return value  # strings (timestamps ride as strings; cast in SQL)


class _LotReader(DataSourceReader):
    def __init__(self, schema: T.StructType, options: dict):
        self._schema = schema
        self._root = options.get("path")
        if not self._root:
            raise ValueError("logicash_lot: option 'path' is required")
        self._header = options.get("header", "true").lower() == "true"
        self._preds: list = []

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Spark 4 filter pushdown for python sources: comparison and
        null-check predicates on top-level columns are evaluated
        DURING the parse (rows are dropped before they reach the JVM
        — at 100 TB that's the difference between shipping a lot and
        shipping a predicate's survivors). Anything else is handed
        back for Spark to evaluate."""
        import operator as op

        ops = {
            EqualTo: op.eq,
            GreaterThan: op.gt,
            GreaterThanOrEqual: op.ge,
            LessThan: op.lt,
            LessThanOrEqual: op.le,
        }
        # only claim comparisons on columns _cast actually converts:
        # for Date/Timestamp/Decimal columns the parsed value stays a
        # string while Spark pushes a typed literal — claiming those
        # would compare across types (dropping every row silently,
        # since Spark trusts a claimed filter and adds no residual).
        comparable = (
            T.IntegerType, T.LongType, T.ShortType, T.ByteType,
            T.DoubleType, T.FloatType, T.BooleanType, T.StringType,
        )
        names = [f.name for f in self._schema.fields]
        dtypes = {f.name: f.dataType for f in self._schema.fields}
        for f in filters:
            kind = type(f)
            col = f.attribute[0] if len(f.attribute) == 1 else None
            if col in names and kind in ops and isinstance(dtypes[col], comparable):
                self._preds.append((names.index(col), ops[kind], f.value))
            elif col in names and kind is IsNotNull:
                self._preds.append((names.index(col), None, None))
            else:
                yield f  # unsupported: Spark evaluates it post-scan

    def _keep(self, row: tuple) -> bool:
        for i, fn, v in self._preds:
            x = row[i]
            if x is None or (fn is not None and not fn(x, v)):
                return False
        return True

    def partitions(self) -> Sequence[InputPartition]:
        # driver-side planning: a listing, never data; one partition
        # per data file so executors parse in parallel. No READY lot
        # -> one empty sentinel (the API requires >= 1 partition).
        files = _ready_lot_files(self._root)
        return [_FilePartition(p) for p in files] or [_FilePartition("")]

    def read(self, partition: _FilePartition) -> Iterator[tuple]:
        if not getattr(partition, "path", ""):
            return
        fields = self._schema.fields
        with open(partition.path, newline="") as fh:
            reader = csv.reader(fh)
            if self._header:
                next(reader, None)
            for row in reader:
                parsed = tuple(
                    _cast(row[i] if i < len(row) else None, f.dataType)
                    for i, f in enumerate(fields)
                )
                if self._keep(parsed):
                    yield parsed


class LotDataSource(DataSource):
    """``format("logicash_lot")`` — READY-gated CSV lot directories."""

    @classmethod
    def name(cls) -> str:
        return "logicash_lot"

    def schema(self) -> str:
        raise NotImplementedError(
            "logicash_lot requires an explicit .schema(...) — production "
            "scans never infer (engine CSV-reader posture)"
        )

    def reader(self, schema: T.StructType) -> DataSourceReader:
        return _LotReader(schema, self.options)

    def writer(self, schema: T.StructType, overwrite: bool):
        return _LotWriter(schema, self.options, overwrite)

    def simpleStreamReader(self, schema: T.StructType):
        return _LotStreamReader(schema, self.options)


def register_lot_source(spark) -> None:
    """Idempotent registration of the lot format on a session.

    Also enables python-source filter pushdown (runtime-settable SQL
    conf): a reader that implements ``pushFilters`` raises at init
    when the conf is off, so registration owns it — vanilla sessions
    (the driver's posture) work without the engine's session factory.
    """
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(LotDataSource)


# ---------------------------------------------------------------- writer

from dataclasses import dataclass  # noqa: E402

from pyspark.sql.datasource import (  # noqa: E402
    DataSourceWriter,
    WriterCommitMessage,
)


@dataclass
class _PartMessage(WriterCommitMessage):
    path: str
    rows: int


class _LotWriter(DataSourceWriter):
    """Two-phase lot write = the reference's producer contract made
    structural: executors write part files into a job-private staging
    dir (phase 1); ``commit()`` on the driver — ONLY after every
    partition reported success — moves them into ``data/`` and writes
    the ``_READY`` flag LAST, so a concurrent lot reader can never
    observe a partial or mixed-generation lot. ``abort()`` removes the
    staging dir and leaves the lot exactly as it was.

    Mode semantics — NOTHING pre-existing is touched before
    ``commit()``, so ``abort()`` always leaves the lot exactly as the
    writer found it, including the committed generation an overwrite
    was about to replace:

    - both modes stage the new parts under ``data/.staging-<job>/``
      (invisible to readers — dot-dirs are pruned from every listing);
    - ``commit()`` drops the flag (readers then skip the lot by
      contract), for **overwrite** deletes the prior generation's
      parts — a shrink can never leave stale parts mixed in — then
      renames the staged parts into ``data/`` (job-unique names, no
      collisions with earlier generations for **append**) and writes
      the flag LAST. The flag is absent only for the duration of a
      few deletes/renames, never while parts are half-written.

    A lot mutated by a second commit is a BATCH-side affordance: the
    streaming source's exactly-once contract requires producers to
    deliver new data as NEW lots (see _LotStreamReader, which detects
    and rejects consumed-lot mutation).
    """

    def __init__(self, schema: T.StructType, options: dict, overwrite: bool):
        import uuid

        self._schema = schema
        root = options.get("path")
        if not root:
            raise ValueError("logicash_lot: option 'path' is required")
        self._root = root
        self._overwrite = overwrite
        # fixed at construction (driver) and pickled to executors, so
        # task retries land on the same staged names — idempotent
        self._job = uuid.uuid4().hex[:12]
        self._data = os.path.join(root, "data")
        self._staging = os.path.join(self._data, f".staging-{self._job}")

    def write(self, iterator: Iterator) -> _PartMessage:
        # executor side: one staged part per partition, named by task
        # partition id + job token (re-tries overwrite the same name)
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        os.makedirs(self._staging, exist_ok=True)
        path = os.path.join(self._staging, f"part-{pid:05d}-{self._job}.csv")
        n = 0
        with open(path, "w", newline="") as fh:
            w = csv.writer(fh)
            w.writerow([f.name for f in self._schema.fields])
            for row in iterator:
                w.writerow(["" if v is None else v for v in row])
                n += 1
        return _PartMessage(path=path, rows=n)

    def commit(self, messages: Sequence[_PartMessage]) -> None:
        # driver side, after ALL partitions succeeded. Drop any prior
        # generation's flag before deletes/renames so no reader ever
        # sees a mixed half-moved lot (flag absent = lot invisible).
        flag = os.path.join(self._root, "_READY")
        prior_rows = 0
        if os.path.exists(flag):
            try:
                with open(flag) as fh:
                    first_token = fh.read().strip().split()[0]
                prior_rows = int(first_token.split("=", 1)[1])
            except (OSError, ValueError, IndexError):
                prior_rows = 0
            os.remove(flag)
        if self._overwrite:
            # the prior generation dies only HERE, inside commit —
            # an aborted overwrite never touched it
            prior_rows = 0
            if os.path.isdir(self._data):
                for fn in os.listdir(self._data):
                    p = os.path.join(self._data, fn)
                    if fn.endswith(".csv") and os.path.isfile(p):
                        os.remove(p)
        os.makedirs(self._data, exist_ok=True)  # zero-partition writes
        for m in messages:
            os.replace(m.path, os.path.join(self._data, os.path.basename(m.path)))
        if os.path.isdir(self._staging):
            try:
                os.rmdir(self._staging)
            except OSError:
                pass  # a lost task's duplicate part; harmless, hidden
        # gen token: every commit job has a distinct id, so the flag
        # CONTENT changes even when the row count does not — the
        # stream reader's mutation detection keys on it (an
        # equal-row-count overwrite must not evade the check)
        with open(flag, "w") as fh:
            fh.write(
                f"rows={prior_rows + sum(m.rows for m in messages)} "
                f"gen={self._job}\n"
            )

    def abort(self, messages: Sequence[_PartMessage]) -> None:
        # staged parts only — committed generations are untouched and
        # the flag state is exactly as the writer found it
        import shutil

        if os.path.isdir(self._staging):
            shutil.rmtree(self._staging, ignore_errors=True)


# ---------------------------------------------------------- stream reader

from pyspark.sql.datasource import SimpleDataSourceStreamReader  # noqa: E402


def _ready_stamp(lot: str) -> str:
    """The lot's ``_READY`` flag stamp: content + mtime_ns. The
    engine's own writer guarantees distinct content per commit (gen
    token); mtime covers foreign producers whose flags are empty or
    constant — any rewrite moves the mtime even if bytes repeat."""
    p = os.path.join(lot, "_READY")
    try:
        with open(p) as fh:
            content = fh.read().strip()
        return f"{content}|{os.stat(p).st_mtime_ns}"
    except OSError:
        return ""


def _log_batch_ids(log_dir: str) -> list[int]:
    """Batch ids present in a streaming metadata log dir (offsets/ or
    commits/): the numeric file names, compaction/CRC noise skipped."""
    try:
        return sorted(
            int(f) for f in os.listdir(log_dir) if f.lstrip("-").isdigit()
        )
    except OSError:
        return []


def lot_stream_quiet(checkpoint_dir: str, lots_root: str) -> bool:
    """True iff restarting a lot stream on this checkpoint would plan
    NOTHING but one empty no-new-lots micro-batch — i.e. the latest
    offset is committed and the current READY listing matches its
    consumed-lot name map stamp for stamp.

    This is the production quiet-period check of the ``_READY``
    protocol (the EventBridge loop wakes consumers when a flag LANDS;
    it does not boot the streaming machinery to discover nothing
    arrived): an ``os.listdir`` plus two metadata-log reads, instead
    of a stream restart — which for a Python data source spawns a
    fresh driver-side runner process per start (measured 1.2-4 s of
    pure interpreter/pyspark-import spin-up, the dominant cost of a
    warm re-drain).

    Exactly mirrors ``_LotStreamReader.read``'s decision on the same
    inputs; every mismatch returns False so the caller runs the real
    stream, which then drains the new lot or raises the
    mutated/missing contract error itself:

    - a READY lot absent from the offset map → new data, not quiet;
    - a consumed stamped lot whose stamp changed or whose dir vanished
      → contract violation the stream must raise on, not quiet;
    - latest offset not committed (crash mid-batch) → the restart must
      replay that batch, not quiet;
    - unparseable/missing logs (legacy count offsets, foreign
      checkpoint) → not quiet, let the stream decide.
    """
    import json as _json

    offsets = _log_batch_ids(os.path.join(checkpoint_dir, "offsets"))
    commits = _log_batch_ids(os.path.join(checkpoint_dir, "commits"))
    if not offsets or not commits or offsets[-1] != commits[-1]:
        return False
    try:
        with open(os.path.join(checkpoint_dir, "offsets", str(offsets[-1]))) as fh:
            lines = [ln for ln in fh.read().splitlines() if ln.strip()]
        # v1 offset log: version line, batch-metadata JSON, then ONE
        # serialized offset per source — this stream has exactly one
        done = _json.loads(lines[-1])["lots"]
        if not isinstance(done, dict):
            return False
    except (OSError, ValueError, KeyError, IndexError):
        return False
    try:
        ready = {
            name: _ready_stamp(os.path.join(lots_root, name))
            for name in os.listdir(lots_root)
            if os.path.isdir(os.path.join(lots_root, name))
            and os.path.exists(os.path.join(lots_root, name, "_READY"))
        }
    except OSError:
        return False
    for name, stamp in ready.items():
        if name not in done:
            return False  # new lot: the stream must drain it
        if done[name] != "" and done[name] != stamp:
            return False  # mutated: the stream must raise
    for name, stamp in done.items():
        if stamp != "" and name not in ready:
            return False  # consumed lot vanished: the stream must raise
    return True


class _LotStreamReader(SimpleDataSourceStreamReader):
    """Streaming over the lot protocol: each micro-batch consumes the
    READY lots that appeared since the last offset — the EventBridge
    flag-trigger loop (main.tf:821-842) as a structured-streaming
    source.

    The offset MAPS consumed lot NAMES to their ``_READY`` flag stamp
    (not a count over the sorted listing: flags land in producer
    order, not name order, so a mid-upload lot whose name sorts before
    an already-consumed lot would — under a count offset — shift the
    listing when its flag arrives, re-delivering consumed lots and
    silently dropping the new one). A batch consumes exactly the READY
    lots not yet in the offset, regardless of how flag-arrival order
    interleaves with name order. The offset grows one entry per lot;
    lots are coarse producer drops (thousands, not millions, between
    checkpoint compactions), so it stays small relative to any batch
    it describes.

    Exactly-once replay requires flagged lots to be IMMUTABLE once
    consumed — the protocol's contract (the batch writer CAN re-commit
    a lot, but a producer feeding a stream must deliver new data as
    NEW lots). The stamp makes that contract enforced instead of
    assumed: a consumed lot whose flag changed (an appended or
    overwritten generation) is detected at the next read and rejected
    loudly, rather than silently never delivering the new rows and
    corrupting between-offset replay."""

    def __init__(self, schema: T.StructType, options: dict):
        self._schema = schema
        self._root = options.get("path")
        if not self._root:
            raise ValueError("logicash_lot: option 'path' is required")
        self._header = options.get("header", "true").lower() == "true"
        # admission control (the maxFilesPerTrigger analog): cap how
        # many NEW lots one micro-batch admits. Under a backlog —
        # restart after downtime, a slow consumer — an uncapped batch
        # is O(backlog) and can exceed executor memory / checkpoint
        # interval; the cap bounds every batch to a planned size and
        # AvailableNow drains the rest as successive batches. 0 = no
        # cap. Lots admit in sorted-name order, so capped consumption
        # is deterministic.
        raw = options.get(
            "maxlotspertrigger", options.get("maxLotsPerTrigger", "0")
        )
        try:
            self._max_lots = int(raw)
        except ValueError as exc:
            raise ValueError(
                f"logicash_lot: maxLotsPerTrigger must be an int, got {raw!r}"
            ) from exc

    def _ready_lots(self) -> list[str]:
        if not os.path.isdir(self._root):
            return []
        out = []
        for name in sorted(os.listdir(self._root)):
            lot = os.path.join(self._root, name)
            if os.path.isdir(lot) and os.path.exists(os.path.join(lot, "_READY")):
                out.append(lot)
        return out

    def _stamp(self, lot: str) -> str:
        return _ready_stamp(lot)

    def initialOffset(self) -> dict:
        return {"lots": {}}

    @staticmethod
    def _consumed(offset: dict) -> dict[str, str]:
        # legacy count offsets ({"n_lots": N}) can't be mapped to
        # names without the listing they were taken over — refuse
        # loudly rather than guess (a guess is exactly the bug the
        # name-map encoding exists to fix)
        if "lots" not in offset:
            raise ValueError(
                f"logicash_lot: unrecognized stream offset {offset!r}; "
                "restart with a fresh checkpoint (offsets are now "
                "consumed-lot-name maps)"
            )
        lots = offset["lots"]
        if isinstance(lots, list):  # pre-stamp name-set offsets
            return {name: "" for name in lots}
        return dict(lots)

    def _rows_of(self, lots: list[str]) -> Iterator[tuple]:
        fields = self._schema.fields
        for lot in lots:
            for dirpath, dirnames, filenames in os.walk(lot):
                dirnames[:] = [d for d in dirnames if not d.startswith(".")]
                for fn in sorted(filenames):
                    if not fn.endswith(".csv"):
                        continue
                    with open(os.path.join(dirpath, fn), newline="") as fh:
                        r = csv.reader(fh)
                        if self._header:
                            next(r, None)
                        for row in r:
                            yield tuple(
                                _cast(row[i] if i < len(row) else None, f.dataType)
                                for i, f in enumerate(fields)
                            )

    def read(self, start: dict) -> tuple[list[tuple], dict]:
        # materialized list, not a generator: the simple-reader harness
        # pickles the batch for prefetch/replay caching
        done = self._consumed(start)
        ready = self._ready_lots()
        # contract enforcement: a consumed lot whose flag stamp changed
        # was mutated after consumption — its replay would differ from
        # the committed batch, so fail loudly instead of silently
        # never delivering the new generation
        ready_names = {os.path.basename(lot) for lot in ready}
        mutated = [
            os.path.basename(lot)
            for lot in ready
            if os.path.basename(lot) in done
            and done[os.path.basename(lot)] != ""
            and self._stamp(lot) != done[os.path.basename(lot)]
        ]
        # a consumed lot that VANISHED is the same contract violation
        # as a mutated one (and would otherwise only surface later, if
        # a checkpoint replay happens to need it) — match
        # readBetweenOffsets' "mutated or missing" posture here too
        missing = [
            name
            for name, stamp in done.items()
            if stamp != "" and name not in ready_names
        ]
        if mutated or missing:
            raise RuntimeError(
                "logicash_lot stream: consumed lot(s) mutated or "
                f"deleted after consumption: {sorted(mutated + missing)}; "
                "producers feeding a stream must write new data as NEW "
                "lots (flagged lots are immutable once consumed)"
            )
        new = [lot for lot in ready if os.path.basename(lot) not in done]
        if self._max_lots > 0:
            # admission cap: admit the first N in sorted-name order;
            # the remainder stays unconsumed and lands in the NEXT
            # batch (AvailableNow keeps triggering while the offset
            # still advances)
            new = new[: self._max_lots]
        end = dict(done)
        for lot in new:
            end[os.path.basename(lot)] = self._stamp(lot)
        # iter(list), not the list and not a generator: the harness's
        # prefetch wrapper needs the iterator PROTOCOL (it calls
        # next() to validate empty no-advance batches) AND copyability
        # (copy.copy for replay) — a materialized list iterator gives
        # both; a bare list fails next(), a generator fails copy
        return iter(list(self._rows_of(new))), {"lots": end}

    def readBetweenOffsets(self, start: dict, end: dict) -> list[tuple]:
        # deterministic replay for recovery: the batch is exactly the
        # offset-map difference. The replay path verifies stamps
        # ITSELF — recovery is precisely when a mutated or vanished
        # lot would otherwise slip a different batch into the sink
        # (read()'s check only guards live consumption).
        end_map = self._consumed(end)
        todo = set(end_map) - set(self._consumed(start))
        ready = {os.path.basename(lot): lot for lot in self._ready_lots()}
        bad = [
            name
            for name in sorted(todo)
            if name not in ready
            or (
                end_map[name] != ""
                and self._stamp(ready[name]) != end_map[name]
            )
        ]
        if bad:
            raise RuntimeError(
                "logicash_lot stream: replay cannot reconstruct the "
                f"committed batch — lot(s) mutated or missing: {bad}; "
                "flagged lots must stay immutable once consumed"
            )
        return list(self._rows_of([ready[name] for name in sorted(todo)]))
