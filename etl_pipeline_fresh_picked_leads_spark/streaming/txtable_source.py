"""TxTable as a first-class Spark data source (r9): register once,
then ``spark.readStream.format("txtable").option("path", root)`` tails
the table's commit log — the Delta-source pattern on plain parquet,
built on Spark 4's Python Data Source API (public
``pyspark.sql.datasource``).

Streaming semantics = the table's changefeed contract
(``TxTable.read_since``): offsets are committed VERSIONS, each
micro-batch delivers the rows of files ADDED between the previous and
current offset, with the end snapshot's deletion vectors applied to
the delivered files.  Manifests and data files are immutable, so a
(start, end] batch is bit-reproducible — checkpoint replay is
deterministic by construction.  Rewrite ops (update/upsert/compact)
re-deliver carried rows (over-approximation, never a miss — consumers
dedup on their key, the documented feed contract); DV deletes on
already-delivered files are not retracted (an add-only feed cannot
express deletion).

Scale shape: offset bookkeeping is manifest-only (driver reads two
JSON files per trigger), one InputPartition per data file (natural
parallelism = new-file count), executors read their file with pyarrow
and emit Arrow batches zero-copy — no JVM round-trip per row.  Column
mapping resolves physical -> logical per file; per-file DV positions
prune with one ``isin`` mask.

Batch mode (``spark.read.format("txtable")``) is the head snapshot
under the same machinery.

Every decision about the log itself is TxTable's, called on a
session-less handle (``TxTable(None, root)`` — manifest-level methods
never touch Spark, so they run in the plan worker and in the writer's
commit callback).  The read plan is the engine's: an add-only batch
is ``_added_since`` (``read_since``'s), a change-feed batch is
``_change_steps`` (``read_changes``'), each file's physical names and
live sidecars are ``TxSnapshot.phys_names``/``dvs_for`` (``_scan``'s),
and sidecar ``file`` values decode through ``txlog.manifest_path``.
The sink commits through ``TxTable._commit_new``, pushdown prunes
through ``TxTable._files_within``, time travel resolves through
``snapshot``/``version_at``, and per-file stats take
``txlog.stat_value``'s form.  This module keeps only what runs where
no session exists: the pyarrow partition reader, the Arrow write
tasks and the version-offset bookkeeping of the stream reader.

Parity note: the reference polls a directory for new CSVs per run
(fresh_picked_leads.py daily cadence); this source is that pattern
with transactional, exactly-once bookkeeping.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from .. import txlog  # pure Python (no Spark session): safe to ship
# to Python workers alongside this module
from ..sources.txtable import _LOG_DIR, TxSnapshot, TxTable

_versions = txlog.versions


@dataclass
class _FilePartition(InputPartition):
    """One file of a read plan: a data file of a snapshot scan or a
    change step, or a CDF sidecar (``TxTable._change_steps``)."""

    file: str
    phys: dict  # {logical field: the file's column} of the read's
    # schema — the physical column, or for a "cdf" sidecar the name
    # the field had at that commit; a column the file lacks reads NULL
    dv_paths: list[str]  # deletion-vector sidecars naming this file
    dv: str = "anti"  # the step's DV mode: "anti" subtracts the rows
    # the sidecars name, "semi" keeps only them, "cdf" reads ``file``
    # as a CDF sidecar verbatim
    change: "tuple | None" = None  # (_change_type, _commit_version)
    # when reading as a change feed (a "cdf" sidecar's type is per
    # row: None); None = plain snapshot read
    cdf_labels: str = "simple"  # read_changes(labels=) of a "cdf"
    # sidecar: "simple" maps update images by TxTable._SIMPLE_LABELS,
    # "delta" passes the four-label form through


_EMPTY = _FilePartition("", {}, [])  # a trigger with nothing to read


def _read_file_partition(part: _FilePartition, logical: StructType):
    """Executor-side: one parquet file -> arrow batches under LOGICAL
    names with DV positions masked out (or, for "semi" partitions,
    kept — the sidecar names the payload).  Runs in the Python worker;
    pyarrow only, no Spark."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from pyspark.sql.pandas.types import to_arrow_schema

    data = to_arrow_schema(logical)
    want = data
    if part.change is not None:
        want = pa.schema(
            list(data)
            + [
                pa.field("_change_type", pa.string()),
                pa.field("_commit_version", pa.int64()),
            ]
        )
    if part.dv == "cdf":
        # logical names at commit time + a per-row _change_type;
        # NULL-fill columns added after the commit
        raw = pq.read_table(part.file)
        n = raw.num_rows
        avail = set(raw.schema.names)
        ct = raw.column("_change_type").cast(pa.string())
        if part.cdf_labels == "simple":
            for old, new in TxTable._SIMPLE_LABELS.items():
                ct = pc.if_else(
                    pc.equal(ct, old), pa.scalar(new, pa.string()), ct
                )
        arrays = [
            raw.column(part.phys[f.name])
            if part.phys.get(f.name) in avail
            else pa.nulls(n, f.type)
            for f in data
        ]
        tbl = pa.Table.from_arrays(
            arrays + [ct, pa.array([part.change[1]] * n, pa.int64())],
            names=want.names,
        )
    else:
        pf = pq.ParquetFile(part.file)
        avail = set(pf.schema_arrow.names)
        present = [c for c in part.phys.values() if c in avail]
        raw = pq.read_table(part.file, columns=present)
        n_rows = pf.metadata.num_rows
        # logical order, NULL-filling columns the file or the read's
        # snapshot predates (the same schema-evolution semantics
        # Spark's parquet reader gives TxTable)
        arrays = [
            raw.column(part.phys[f.name])
            if part.phys.get(f.name) in avail
            else pa.nulls(n_rows, f.type)
            for f in data
        ]
        tbl = pa.Table.from_arrays(arrays, names=data.names)
        if part.dv_paths:
            dv = pa.concat_tables(pq.read_table(p) for p in part.dv_paths)
            # sidecar 'file' values are %-encoded URI paths: match
            # them to this manifest path the way the engine does
            mine = [
                u
                for u in pc.unique(dv["file"]).to_pylist()
                if txlog.manifest_path(u) == part.file
            ]
            dead = dv.filter(
                pc.is_in(dv["file"], value_set=pa.array(mine, pa.string()))
            )["pos"]
            pos = pa.array(range(tbl.num_rows), type=pa.int64())
            mask = pc.is_in(pos, value_set=dead.combine_chunks())
            tbl = tbl.filter(mask if part.dv == "semi" else pc.invert(mask))
        elif part.dv == "semi":
            tbl = tbl.slice(0, 0)  # defensive: no sidecar, no payload
        if part.change is not None:
            kind, version = part.change
            n = tbl.num_rows
            tbl = tbl.append_column(
                "_change_type", pa.array([kind] * n, pa.string())
            ).append_column(
                "_commit_version", pa.array([version] * n, pa.int64())
            )
    # conform arrow types to the logical schema (a file written before
    # an ANSI-widening may carry narrower physical types)
    if tbl.schema != want:
        tbl = tbl.cast(want)
    yield from tbl.to_batches(max_chunksize=1 << 16)


def _partitions_for(
    phys: dict, snap: TxSnapshot, files: list[str], **kw
) -> list[_FilePartition]:
    """``files`` of ``snap`` as partitions read through ``phys`` (a
    ``TxSnapshot.phys_names``) under ``snap``'s live sidecars."""
    dvs = snap.dvs_for(files)
    return [
        _FilePartition(f, phys, sorted(dvs.get(f, ())), **kw) for f in files
    ]


class _TxStreamReader(DataSourceStreamReader):
    def __init__(
        self,
        root: str,
        schema: StructType,
        starting_version: "int | str | None" = None,
        max_versions_per_trigger: int | None = None,
        change_feed: bool = False,
        starting_timestamp=None,
        cdf_labels: str = "simple",
    ):
        self.root = root
        self.log_dir = os.path.join(root, _LOG_DIR)
        self.logical = schema
        self.cdf_labels = cdf_labels
        self.starting_version = starting_version
        self.starting_timestamp = starting_timestamp
        self.max_versions = max_versions_per_trigger
        self.change_feed = change_feed
        self._seen: int | None = None  # newest end handed to partitions()
        # the stream's schema is the head's at start, so are the
        # physical columns every file of every step is read through:
        # a later rename keeps a column's physical name, and files
        # older than an added column lack it (NULL)
        self.start = TxTable(None, root).snapshot()
        self.phys = self.start.phys_names()

    def initialOffset(self) -> dict:
        # default: start BEFORE the first commit — the initial
        # snapshot is delivered as the first batch (Delta source
        # default).  startingVersion="latest" skips the backfill
        # (changes-only tailing); an integer starts after that
        # committed version.  startingTimestamp (r10, Delta parity):
        # deliver every commit AT OR AFTER the bound — the offset is
        # (first version with ts >= bound) - 1; a future bound tails
        # only commits that land after it.
        if self.starting_timestamp is not None:
            if self.starting_version is not None:
                raise ValueError(
                    "txtable source: pass startingVersion OR "
                    "startingTimestamp, not both"
                )
            bound = TxTable._to_epoch_us(self.starting_timestamp)
            vs = _versions(self.log_dir)
            idx = txlog.read_index(self.log_dir, vs)
            for v in vs:  # ts monotone: first match wins
                ts = idx.get(v, {}).get("ts")
                if ts is not None and ts >= bound:
                    return {"version": v - 1}
            return {"version": vs[-1] if vs else 0}
        if self.starting_version is None:
            return {"version": 0}
        if self.starting_version == "latest":
            vs = _versions(self.log_dir)
            return {"version": vs[-1] if vs else 0}
        return {"version": int(self.starting_version)}

    def latestOffset(self) -> dict:
        vs = _versions(self.log_dir)
        head = vs[-1] if vs else 0
        if self.max_versions is None:
            return {"version": head}
        # rate limiting: advance at most N versions past the newest
        # end this reader has handed out.  After a restart the first
        # trigger may be empty (we haven't seen the checkpoint's
        # start yet — partitions() records it); the next trigger
        # advances normally.  Under availableNow the run drains to
        # the capped end only — re-trigger to continue (documented).
        base = self._seen if self._seen is not None else 0
        return {"version": min(head, base + self.max_versions)}

    def partitions(self, start: dict, end: dict):
        self._seen = max(start["version"], end["version"])
        return self._partitions(start, end)

    def _partitions(self, start: dict, end: dict):
        sv, ev = start["version"], end["version"]
        if ev <= sv:
            return [_EMPTY]
        t = TxTable(None, self.root)
        if not self.change_feed:
            head, files = t._added_since(sv, ev)
            return _partitions_for(self.phys, head, files) or [_EMPTY]
        return [
            p
            for st in t._change_steps(sv, ev, self.cdf_labels)
            for p in _partitions_for(
                # a CDF sidecar holds its commit's logical names
                self.start.names_at(st.snap) if st.dv == "cdf" else self.phys,
                st.snap,
                st.files,
                dv=st.dv,
                change=(st.tag, st.version),
                cdf_labels=self.cdf_labels,
            )
        ] or [_EMPTY]

    def read(self, partition: _FilePartition):
        if not partition.file:
            return iter(())
        return _read_file_partition(partition, self.logical)

    def commit(self, end: dict) -> None:
        pass  # offsets live in the engine's checkpoint; nothing to GC


def _bounds_from_filters(filters) -> dict:
    """NECESSARY per-column intervals from pushed-down filters (the
    AND of the list): {col: (lo, hi)}.  Strict comparisons widen to
    inclusive bounds — pruning needs a SUPERSET of matching files,
    never exactness.  Unrecognized filter types contribute nothing."""
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        In,
        LessThan,
        LessThanOrEqual,
    )

    out: dict = {}

    def tighten(col, lo, hi):
        plo, phi = out.get(col, (None, None))
        try:
            lo = plo if lo is None else (lo if plo is None else max(plo, lo))
            hi = phi if hi is None else (hi if phi is None else min(phi, hi))
        except TypeError:
            return  # incomparable literals: skip, stay conservative
        out[col] = (lo, hi)

    for f in filters:
        attr = getattr(f, "attribute", None)
        if not attr or len(attr) != 1:
            continue  # nested/qualified columns: not stats-addressed
        col = attr[0]
        if isinstance(f, EqualTo):
            tighten(col, f.value, f.value)
        elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
            tighten(col, f.value, None)
        elif isinstance(f, (LessThan, LessThanOrEqual)):
            tighten(col, None, f.value)
        elif isinstance(f, In):
            vals = list(f.value)  # Tuple[Any, ...] field
            if vals:
                try:
                    tighten(col, min(vals), max(vals))
                except TypeError:
                    pass
    return out


class _TxBatchReader(DataSourceReader):
    def __init__(
        self, root: str, schema: StructType, version: "int | None" = None
    ):
        self.root = root
        self.logical = schema
        self.version = version  # pinned by versionAsOf / timestampAsOf
        self.bounds: dict = {}  # set by pushFilters (pushdown subclass)

    def partitions(self):
        t = TxTable(None, self.root)
        snap = t.snapshot(self.version)
        if snap is None:
            return [_EMPTY]
        # the engine's stats pruning (files_in_range semantics): a
        # file is skipped only when its [min, max] provably misses a
        # bound; stat-less files and unorderable bounds are admitted
        keep = t._files_within(snap, self.bounds)
        files = [f for f in snap.files if keep is None or f in keep]
        return _partitions_for(snap.phys_names(), snap, files) or [_EMPTY]

    def read(self, partition: _FilePartition):
        if not partition.file:
            return iter(())
        return _read_file_partition(partition, self.logical)


class _TxBatchReaderPushdown(_TxBatchReader):
    """The default batch reader: adds ``pushFilters`` manifest-stats
    file skipping (Spark 4.1 Python Data Source filter pushdown).
    Split from the base class so ``.option("pushdown", "false")`` can
    return a reader that does NOT implement pushFilters at all —
    Spark hard-errors on a pushFilters-bearing reader whenever
    ``spark.sql.python.filterPushdown.enabled`` is off in the
    planning session, and the option decision rides the DataSource
    options (available in the plan worker, no session needed), so it
    works as an escape hatch in ANY session."""

    def pushFilters(self, filters):
        """Manifest-stats FILE skipping (r11): interval bounds from
        the pushed conjunction prune the partition list — a key-range
        read of a stats-clustered 100 TB table plans partitions for
        one slice instead of every file.  EVERY filter is returned
        for Spark to re-apply row-level: file pruning admits a
        SUPERSET of matching rows by design, so correctness never
        depends on this path (the same contract as Delta's data
        skipping + Spark's post-scan filters)."""
        self.bounds = _bounds_from_filters(filters)
        return filters  # all re-evaluated by Spark post-scan


class TxTableDataSource(DataSource):
    """``spark.dataSource.register(TxTableDataSource)`` then
    ``.format("txtable").option("path", <root>)`` for batch or
    streaming reads of a TxTable."""

    @classmethod
    def name(cls) -> str:
        return "txtable"

    def _root(self) -> str:
        root = self.options.get("path")
        if not root:
            raise ValueError("txtable source requires .option('path', root)")
        return root

    def _cdf(self) -> bool:
        return str(
            self.options.get("readchangefeed", "false")
        ).lower() in ("true", "1", "yes")

    def _cdf_labels(self) -> str:
        """r11: .option("labels", "delta") emits the four-label Delta
        CDF tags on the change feed; default "simple" keeps the
        two-label form the oracles are keyed on."""
        labels = str(self.options.get("labels", "simple")).lower()
        if labels not in ("simple", "delta"):
            raise ValueError(
                f"txtable: labels must be 'simple' or 'delta', "
                f"got {labels!r}"
            )
        return labels

    def _pinned_version(self) -> "int | None":
        """Batch time travel (r10): versionAsOf / timestampAsOf pin a
        committed version; None = the head.  Mutually exclusive, like
        Delta's reader options.  A versionAsOf outside the log raises
        where the pinned snapshot is opened (``TxTable.snapshot``)."""
        v_opt = self.options.get("versionasof")
        ts_opt = self.options.get("timestampasof")
        if v_opt is not None and ts_opt is not None:
            raise ValueError(
                "txtable: pass versionAsOf OR timestampAsOf, not both"
            )
        if ts_opt is not None:
            return TxTable(None, self._root()).version_at(ts_opt)
        return None if v_opt is None else int(v_opt)

    def schema(self) -> StructType:
        # a pinned read carries the PINNED version's schema — time
        # travel across an add_column must not NULL-fill forward
        snap = TxTable(None, self._root()).snapshot(self._pinned_version())
        if snap is None:
            raise FileNotFoundError(
                f"no committed version under {self._root()}"
            )
        if not snap.schema_json:
            raise ValueError(
                "txtable source needs a schema-bearing manifest"
            )
        base = StructType.fromJson(json.loads(snap.schema_json))
        if self._cdf():
            base = base.add("_change_type", "string").add(
                "_commit_version", "long"
            )
        return base

    def reader(self, schema: StructType) -> _TxBatchReader:
        if "labels" in self.options:
            # ADVICE r11: only the STREAMING change feed honors label
            # shaping; silently ignoring it here would let a batch
            # consumer believe it got four-label output.  Batch users
            # of labeled changes go through TxTable.read_changes(...)
            raise ValueError(
                "txtable: the 'labels' option applies to streaming "
                "readChangeFeed only; for labeled batch changes use "
                "TxTable.read_changes(labels=...)"
            )
        pushdown = str(self.options.get("pushdown", "true")).lower()
        cls = (
            _TxBatchReader
            if pushdown in ("false", "0", "no")
            else _TxBatchReaderPushdown
        )
        return cls(self._root(), schema, version=self._pinned_version())

    def streamReader(self, schema: StructType) -> _TxStreamReader:
        mv = self.options.get("maxversionspertrigger")
        cdf = self._cdf()
        logical = schema
        if cdf:  # the partition readers work on the TABLE schema
            from pyspark.sql.types import StructType as _ST

            logical = _ST(
                [
                    f
                    for f in schema.fields
                    if f.name not in ("_change_type", "_commit_version")
                ]
            )
        return _TxStreamReader(
            self._root(),
            logical,
            starting_version=self.options.get("startingversion"),
            max_versions_per_trigger=int(mv) if mv else None,
            change_feed=cdf,
            starting_timestamp=self.options.get("startingtimestamp"),
            cdf_labels=self._cdf_labels(),
        )

    def writer(self, schema: StructType, overwrite: bool):
        return _TxBatchWriter(self._root(), schema, overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool):
        if overwrite:
            raise ValueError(
                "txtable streaming sink supports append mode only"
            )
        return _TxStreamWriter(self._root(), schema)


def register(spark) -> None:
    """Idempotent registration of the ``txtable`` format.  Also
    enables Python-data-source filter pushdown (r11): the batch
    reader implements ``pushFilters`` for manifest-stats file
    skipping, and Spark REFUSES to plan a pushFilters-bearing reader
    while the conf is off — so the conf is part of registering the
    format, not a tuning knob."""
    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
        # belt-and-braces: SQLConf.get on a JVM thread with a stale /
        # absent active-session thread-local falls back past the
        # session conf (observed once in a long mixed-workload suite:
        # a pushFilters-bearing reader planned under the conf's FALSE
        # default).  A JVM system property covers that fallback; the
        # per-read .option("pushdown", "false") escape hatch covers
        # anything else.
        spark._jvm.java.lang.System.setProperty(
            "spark.sql.python.filterPushdown.enabled", "true"
        )
    except Exception:  # pragma: no cover — ancient/locked-down session
        pass
    spark.dataSource.register(TxTableDataSource)


# ------------------------------------------------------------------ writers

from dataclasses import field as _field  # noqa: E402

from pyspark.sql.datasource import (  # noqa: E402
    DataSourceArrowWriter,
    DataSourceStreamArrowWriter,
    WriterCommitMessage,
)


@dataclass
class _WroteFiles(WriterCommitMessage):
    files: list = _field(default_factory=list)
    n_rows: int = 0
    row_hash_sum: int = 0  # order/partition-insensitive content term
    stats: dict = _field(default_factory=dict)  # {path: rows/min/max}


# Spark's ExternalCatalogUtils.escapePathName charset: partition dir
# segments written here must be byte-identical to what the engine's
# partitionBy writer produces, or compact(partition=)/vacuum path
# matching would silently miss sink-written files.
_PATH_ESCAPE = set('"#%\'*/:=?\\\x7f{[]^')


def _esc_path(s: str) -> str:
    return "".join(
        "%%%02X" % ord(ch) if ch in _PATH_ESCAPE or ord(ch) < 0x20 else ch
        for ch in s
    )


def _part_seg(phys: str, value) -> str:
    """One ``__txp_<phys>=<value>`` path segment, Spark-canonical:
    None/NaN -> the Hive null marker, bools lowercase, ints/dates via
    their canonical str form (the engine's documented round-trip
    set)."""
    try:
        is_nan = value is None or value != value
    except Exception:  # non-comparable exotic type
        is_nan = value is None
    if is_nan:
        raw = "__HIVE_DEFAULT_PARTITION__"
    elif isinstance(value, bool):
        raw = "true" if value else "false"
    else:
        raw = _esc_path(str(value))
    return f"__txp_{phys}={raw}"


def _write_task(
    root: str,
    schema: StructType,
    iterator,
    colmap=None,
    partition_by=None,
    stats_cols=None,
):
    """Executor-side: drain this task's Arrow batches into fresh
    parquet under the table's data dir.  The directory is staged
    before any manifest references it — exactly the writer protocol
    TxTable.vacuum's min-age guard assumes — so an aborted batch
    leaves only an unreferenced young dir for vacuum.

    ``colmap`` (r10): the target's column mapping at stream start —
    files must speak PHYSICAL names (every other writer/reader of the
    table does; a logical-named file would silently read as all-NULL
    after the colmap projection).  The fingerprint is computed on the
    logical frame BEFORE the rename: content identity is invariant
    under physical naming.

    ``partition_by`` (r13): the target's partition spec (logical
    names).  The task splits its rows by partition value and writes
    ONE file per value under the engine's ``__txp_<phys>=<value>``
    path layout — the file-per-partition-value invariant holds
    without a Spark session, so the native sink now accepts
    partitioned targets.  File-count shape: a trigger writes up to
    tasks × values-per-task files; for HIGH-cardinality specs,
    pre-repartition the stream on the partition column
    (``df.repartition(col)`` before writeStream) so each value lands
    in one task — the engine's arrange=True does the same shuffle,
    which a post-plan writer cannot inject itself.  ``stats_cols`` min/max/rows ride back to
    the driver per file (spec columns are single-valued per file, so
    min==max and partition pruning works on sink-written files
    exactly as on engine-written ones)."""
    import uuid as _uuid

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql.pandas.types import to_arrow_schema

    batches = list(iterator)
    if not batches:
        return _WroteFiles([])
    tbl = pa.Table.from_batches(batches)
    want = to_arrow_schema(schema)
    if tbl.schema != want:
        tbl = tbl.cast(want)
    # order-insensitive row fingerprint (vectorized): summed row
    # hashes are invariant under any re-partitioning, so the driver's
    # txn tag survives a checkpoint-loss re-split replay — the same
    # convention as streaming/sinks.df_fingerprint
    pdf = tbl.to_pandas()
    hashes = pd.util.hash_pandas_object(pdf, index=False).to_numpy()
    hsum = int(hashes.astype("uint64").sum() % (1 << 64))
    phys = (
        {c["name"]: c["phys"] for c in colmap} if colmap is not None else {}
    )
    if colmap is not None:
        tbl = tbl.rename_columns(
            [phys.get(n, n) for n in tbl.column_names]
        )
    scols = [c for c in (stats_cols or []) if c in pdf.columns]

    def _stats_of(slice_tbl) -> dict:
        # stats from the ARROW slice, not pandas: the same float64
        # promotion that broke partition path values (above) turns an
        # int64-with-NULL column's min/max into 1.0 where the engine
        # writes 1 — numerically equal for pruning, but the delta-
        # manifest stats-equality guard would then always fall back to
        # full form for sink-written survivors.  min_max skips nulls;
        # an all-null column yields None on both writers.
        import pyarrow.compute as pc

        mins, maxs = {}, {}
        for c in scols:
            mm = pc.min_max(slice_tbl.column(phys.get(c, c)))
            mins[c] = txlog.stat_value(mm["min"].as_py())
            maxs[c] = txlog.stat_value(mm["max"].as_py())
        return {"rows": slice_tbl.num_rows, "min": mins, "max": maxs}

    out_dir = os.path.join(root, "data", _uuid.uuid4().hex)
    if not partition_by:
        os.makedirs(out_dir)
        path = os.path.join(out_dir, "part-00000.parquet")
        pq.write_table(tbl, path)
        stats = {path: _stats_of(tbl)} if scols else {}
        return _WroteFiles([path], tbl.num_rows, hsum, stats)
    files, stats = [], {}
    # group row indices by the ARROW values, not a pandas groupby:
    # pandas promotes an int64 column with any NULL to float64, so
    # (a) the pdf value would write '__txp_p=1.0' where the engine
    # writes '__txp_p=1' (ADVICE r13, fixed r14 for segment values)
    # and (b) two distinct int64 values >= 2^53 that collide in
    # float64 would GROUP into one file under one path key (ADVICE
    # r14) — grouping and segment naming must use the same exact
    # values.  VECTORIZED via Table.group_by (r16, VERDICT r15 #7:
    # the r15 fix looped per row in Python — pure interpreter time at
    # a 1M-row Arrow batch): NaN pre-normalizes to null so all
    # null-ish rows share the Hive null partition (what the per-row
    # _norm_key did); use_threads=False pins first-appearance group
    # order and ascending in-group row order, exactly the dict-insert
    # order of the loop it replaces (pinned in tests).
    import numpy as np
    import pyarrow.compute as pc

    pcols = [phys.get(c, c) for c in partition_by]
    karrs = []
    for name in pcols:
        col = tbl.column(name)
        if pa.types.is_floating(col.type):
            # Arrow's grouper hashes floats bitwise: NaN and -0.0
            # would split from null and +0.0 — the Python-equality
            # loop this replaces grouped them (NaN with nothing ->
            # normalized to the null partition; -0.0 == 0.0)
            col = pc.if_else(
                pc.is_nan(col),
                pa.scalar(None, col.type),
                pc.if_else(
                    pc.equal(col, 0.0), pa.scalar(0.0, col.type), col
                ),
            )
        karrs.append(col)
    gtbl = pa.table(
        dict(
            [(f"_k{i}", a) for i, a in enumerate(karrs)]
            + [
                (
                    "_idx",
                    pa.array(np.arange(tbl.num_rows, dtype=np.int64)),
                )
            ]
        )
    )
    grouped = gtbl.group_by(
        [f"_k{i}" for i in range(len(pcols))], use_threads=False
    ).aggregate([("_idx", "list")])
    idx_lists = grouped.column("_idx_list")
    for i in range(grouped.num_rows):
        seq = idx_lists[i].values
        part_tbl = tbl.take(seq)
        segs = [
            _part_seg(name, part_tbl.column(name)[0].as_py())
            for name in pcols
        ]
        d = os.path.join(out_dir, *segs)
        os.makedirs(d)
        path = os.path.join(d, f"part-{i:05d}.parquet")
        pq.write_table(part_tbl, path)
        files.append(path)
        if scols:
            stats[path] = _stats_of(part_tbl)
    return _WroteFiles(sorted(files), tbl.num_rows, hsum, stats)


def _sink_guards(
    base: "TxSnapshot | None",
    schema: StructType,
    op: str,
    check_schema: bool = True,
) -> None:
    """The native sink commits without a Spark session (its Arrow
    tasks wrote the files, the commit is manifest-only), so table
    features whose enforcement needs a query engine are refused
    LOUDLY instead of silently skipped.  ``check_schema=False`` for
    overwrite, which legitimately replaces the schema but must still
    refuse constraints/colmap (silently DROPPING a CHECK constraint or
    breaking the physical-name contract would be worse than the
    append-path refusal)."""
    if base is None:
        return
    if base.constraints:
        raise ValueError(
            f"txtable {op}: target carries CHECK constraints, which "
            "this sink cannot validate — use txtable_sink_prepared "
            "(streaming/sinks.py, foreachBatch + engine-assisted "
            "append) for gated tables"
        )
    if base.generated:
        raise ValueError(
            f"txtable {op}: target declares generated columns, which "
            "this sink cannot compute/validate — use "
            "txtable_sink_prepared (streaming/sinks.py)"
        )
    # partitioned targets are SUPPORTED since r13: tasks lay out
    # __txp_<phys>=<value> splits in the Arrow writer (_write_task)
    if base.identity:
        # id assignment needs the engine's transactional watermark
        # bookkeeping (per-partition offset blocks under the pin) —
        # there is no sound manifest-only spelling of it
        raise ValueError(
            f"txtable {op}: target has identity column "
            f"{base.identity['col']!r}, which this sink cannot assign "
            "— use txtable_sink_prepared (streaming/sinks.py)"
        )
    if base.colmap is not None and not check_schema:
        # overwrite replaces the schema: the retired-name fence and
        # field-id bookkeeping need the engine — refuse.  Appends into
        # column-mapped tables are supported since r10: the writer
        # renames to physical names per the snapshot's colmap.
        raise ValueError(
            f"txtable {op}: target uses column mapping; overwrite "
            "needs field-id bookkeeping — use TxTable.overwrite"
        )
    if not check_schema:
        return
    if base.schema_json:
        want = StructType.fromJson(json.loads(base.schema_json))
        if [
            (f.name, f.dataType.simpleString()) for f in want.fields
        ] != [(f.name, f.dataType.simpleString()) for f in schema.fields]:
            raise ValueError(
                f"txtable {op}: stream schema "
                f"{schema.simpleString()} != table schema "
                f"{want.simpleString()}"
            )


def _sink_commit(
    root: str,
    schema: StructType,
    files: list[str],
    txn: str | None,
    op: str = "stream_sink",
    overwrite: bool = False,
    wrote_colmap=None,
    wrote_pby=None,
    stats: dict | None = None,
) -> int:
    """Commit the tasks' ``files`` (with their per-file ``stats``)
    through TxTable's one new-file commit, ``_commit_new``, on a
    session-less handle: the same manifest, retry loop and ``txn``
    exactly-once check as ``TxTable.append``/``overwrite``.  The
    sink's guards re-run against every base it commits on (a racing
    add_constraint must refuse us).  ``wrote_colmap``/``wrote_pby``
    are the mapping and partition spec the TASKS wrote under
    (captured at stream start): a rename landing mid-stream makes the
    staged files speak stale physical names, and files laid out under
    another spec would break file-per-partition-value, so the commit
    refuses instead of linking them (restart the stream to adopt the
    new state)."""
    t = TxTable(None, root)

    def recheck(base: "TxSnapshot | None") -> None:
        _sink_guards(base, schema, op, check_schema=not overwrite)
        if (None if overwrite else t._colmap_or_none(base)) != wrote_colmap:
            raise ValueError(
                f"txtable {op}: the table's column mapping changed "
                "since this stream started (files were written under "
                "the old physical names) — restart the stream"
            )
        if _spec_of(base) != (wrote_pby or None):
            # the spec is immutable at CREATE, so this only fires when
            # the table was dropped+recreated under the stream
            raise ValueError(
                f"txtable {op}: the table's partition spec changed "
                "since this stream started — restart the stream"
            )

    base = t.snapshot()
    recheck(base)
    return t._commit_new(
        files,
        op,
        base,
        txn,
        stats,
        recheck,
        replace=overwrite,
        schema_json=json.dumps(schema.jsonValue()),
    )


def _spec_of(base: "TxSnapshot | None") -> "list[str] | None":
    return list(base.partition_by) if base and base.partition_by else None


def _require_spec_cols(pby, schema: StructType, op: str) -> None:
    """A write into a partitioned table must carry the spec columns
    (the engine's overwrite makes the same check): a file that cannot
    be value-split would break the partition invariant."""
    if not pby:
        return
    missing = [c for c in pby if c not in schema.fieldNames()]
    if missing:
        raise ValueError(
            f"txtable {op}: stream schema lacks partition column(s) "
            f"{missing}; the partition spec is immutable"
        )


class _TxSinkWriter:
    """What both sink writers share: the head read at plan time (fail
    fast at stream start, not first commit), the Arrow task, and the
    commit of the tasks' files in ONE manifest (``_sink_commit``)."""

    def __init__(self, root: str, schema: StructType, op: str, overwrite=False):
        self.root = root
        self.schema = schema
        self.op = op
        self.overwrite = overwrite
        base = TxTable(None, root).snapshot()
        _sink_guards(base, schema, op, check_schema=not overwrite)
        # the mapping every task writes under for the stream's life (a
        # mid-stream rename is refused at commit); overwrite replaces
        # the schema, so it writes logical names
        self.colmap = None if overwrite else TxTable._colmap_or_none(base)
        # partition spec + stats columns (r13): tasks lay out the
        # __txp_ value splits and compute per-file stats themselves —
        # in BOTH modes, since the spec is immutable and overwrite's
        # replacement files must be laid out under it
        self.pby = _spec_of(base)
        self.stats_cols = (
            list(base.stats_cols) if base and base.stats_cols else None
        )
        _require_spec_cols(self.pby, schema, op)

    def write(self, iterator):
        return _write_task(
            self.root,
            self.schema,
            iterator,
            self.colmap,
            self.pby,
            self.stats_cols,
        )

    def _commit_files(self, messages, txn: str | None) -> int:
        msgs = [m for m in messages if m]
        return _sink_commit(
            self.root,
            self.schema,
            sorted(f for m in msgs for f in m.files),
            txn,
            op=self.op,
            overwrite=self.overwrite,
            wrote_colmap=self.colmap,
            wrote_pby=self.pby,
            stats={f: st for m in msgs for f, st in m.stats.items()},
        )

    def abort(self, messages, batchId: "int | None" = None) -> None:
        """An aborted write leaves only its staged, unreferenced
        directories; remove them (vacuum would, after its min age)."""
        import shutil

        for msg in messages:
            if not msg:
                continue
            for f in msg.files:
                shutil.rmtree(os.path.dirname(f), ignore_errors=True)


class _TxStreamWriter(_TxSinkWriter, DataSourceStreamArrowWriter):
    """Streaming sink: every micro-batch commits ONE manifest
    appending all task files, tagged with an order-insensitive
    CONTENT fingerprint (row count + summed row hashes) — a replayed
    batch no-ops even after CHECKPOINT LOSS renumbers batches and
    re-splits the rows (the same partition-layout-proof convention
    as streaming/sinks.df_fingerprint; batch id alone would re-apply
    or drop under re-splits, the r8-reviewed hazard)."""

    def __init__(self, root: str, schema: StructType):
        super().__init__(root, schema, "stream_sink")

    def commit(self, messages, batchId: int) -> None:
        n = sum(msg.n_rows for msg in messages if msg)
        h = sum(msg.row_hash_sum for msg in messages if msg) % (1 << 64)
        self._commit_files(messages, f"txsink|{n}:{h}")


class _TxBatchWriter(_TxSinkWriter, DataSourceArrowWriter):
    """Batch sink: ``df.write.format("txtable").mode("append"|
    "overwrite")`` — all task files land in ONE atomic manifest."""

    def __init__(self, root: str, schema: StructType, overwrite: bool):
        super().__init__(
            root, schema, "overwrite" if overwrite else "append", overwrite
        )

    def commit(self, messages) -> None:
        self._commit_files(messages, None)
