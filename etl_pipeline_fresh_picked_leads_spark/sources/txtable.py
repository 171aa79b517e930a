"""TxTable: a minimal transaction-log table format on plain parquet.

Why this exists: the reference mutates tables in place via BigQuery
DML (UPDATE big_uery_handler.py:183-194; load-append :158-165), which
is transactional on BigQuery's side.  On a raw parquet directory the
equivalent is read->rewrite — O(table) per mutation and destroyed by a
crash mid-overwrite.  Real deployments solve this with Delta/Iceberg;
this module re-implements the public core of that idea (a Delta-style
`_delta_log` / Iceberg-style snapshot manifest) with nothing but
parquet + POSIX rename semantics, so the engine has honest
transactional behavior in this environment.

Layout::

    <root>/
      data/<commit-uuid>/part-*.parquet   immutable once referenced
      _txlog/v0000000001.json             manifest = THE commit point
      _txlog/v0000000002.json             {"version", "op", "files"}

- **Snapshot reads**: the live table is exactly the file list of the
  highest manifest; ``read()`` hands that list to ``_scan``, the one
  scan of committed files (manifest schema, colmap, deletion
  vectors).  Writers never modify referenced files, so readers are
  isolated for free.
- **Atomic commit**: a manifest is staged to a temp name and
  hard-linked (``os.link`` — atomic + exclusive on POSIX) into place.
  A crash anywhere before the link leaves the previous snapshot
  intact; a lost race raises ``TxConflictError`` (optimistic
  concurrency, same contract as Delta's commit protocol).
- **Copy-on-write at file granularity**: ``update``/``upsert`` find
  the files that actually contain matching rows via the parquet
  ``_metadata.file_path`` column (a column-pruned metadata scan),
  rewrite only those, and carry every other file into the new
  manifest by reference.  A keyed upsert into a 100 TB table touches
  the few files holding the colliding keys, not the table.
- **vacuum()**: data no longer referenced by the newest ``retain``
  manifests is deleted; old manifests are dropped.  Equivalent of
  Delta VACUUM.
- **Log checkpointing (r11)**: manifest STORAGE is delegated to
  ``txlog`` — commits whose file-list change is small write
  delta-form manifests (add/remove vs the parent) with a full
  "checkpoint" manifest every ``txlog.CHECKPOINT_EVERY`` links, and
  an append-only commit index (``_txlog/_idx.jsonl``) serves
  txn-idempotency / ``history()`` / ``version_at`` lookups without
  opening every manifest.  Commit I/O is ∝ the change, not the
  table; txn scans are one cached sequential read, not O(versions)
  file opens — the public Delta checkpoint + per-appId txn-map
  design.  ``snapshot()`` always sees the self-contained view;
  pre-r11 logs (all full-form) read unchanged.

Local/HDFS-rename filesystems only (object stores without atomic
rename need a real log store — that is precisely Delta's LogStore
abstraction; use it there).
"""

from __future__ import annotations

import dataclasses
import json
import os
import time
import uuid
from functools import reduce
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .. import txlog

_LOG_DIR = "_txlog"
_DATA_DIR = "data"
# deletion-vector sidecar schema: plain data-file path + row ordinal
# (parquet row_index) of each deleted row
_DV_SCHEMA = "file string, pos bigint"
_CLONES_DIR = "_clones"


class TxConflictError(RuntimeError):
    """Another writer committed the same version first (optimistic
    concurrency loss).  Re-read the snapshot and retry."""


class TxCloneFateError(RuntimeError):
    """A source vacuum would delete files a live shallow clone still
    references (silent data loss in Delta; loud here)."""


class TxGeneratedColumnViolation(RuntimeError):
    """A write provided a generated column whose values do not match
    the table's generation expression (Delta rejects these too)."""


class TxConstraintViolation(RuntimeError):
    """A write contained rows for which a table CHECK constraint
    evaluated to FALSE (Delta semantics: NULL passes).  Nothing was
    committed."""


@dataclasses.dataclass(frozen=True)
class TxSnapshot:
    version: int
    op: str
    files: tuple[str, ...]
    schema_json: str | None = None  # table schema; None on pre-schema logs
    stats: dict | None = None  # per-file {rows, min:{col}, max:{col}}
    txn: str | None = None  # idempotency tag of the commit, if any
    dropped: tuple[str, ...] = ()  # ever-dropped column names (history;
    # also the legacy re-add fence on manifests without a colmap)
    colmap: tuple | None = None  # column-mapping ids (r8): tuple of
    # {"id", "name", "phys"} — logical name -> physical parquet column.
    # None = identity mapping (phys == name), the state of every table
    # until its first rename_column / re-add-after-drop.
    retired: tuple[str, ...] = ()  # physical names of dropped columns —
    # never reassigned, so old files can't leak pre-drop values
    max_id: int | None = None  # highest field id ever assigned
    constraints: dict | None = None  # CHECK constraints {name: sql_expr}
    # enforced on every data write; None/{} = unconstrained
    stats_cols: tuple[str, ...] | None = None  # the table's committed
    # stats policy (late r8): rides every manifest; stats-less handles
    # adopt it, opt-out writers ([]) still carry it forward
    dvs: dict | None = None  # deletion vectors (r9, merge-on-read):
    # {data_file_path: [dv_parquet_paths]} — each DV parquet holds
    # (file, pos) pairs naming rows DELETED from otherwise-untouched
    # data files; every committed read anti-joins them out.  None/{} =
    # no deletes pending (the identity fast path: plans and manifests
    # stay bit-identical to the pre-DV era)
    cdf: tuple[str, ...] | None = None  # exact change-data sidecar
    # (r10): parquet paths holding THIS commit's exact row-level
    # changes (_change_type + logical columns at commit time).  Written
    # by copy-on-write mutations (merge/update/delete/upsert/
    # replace_where), whose file diffs otherwise over-approximate
    # (carried-along rows of rewritten files).  Per-commit artifact:
    # never rides to later commits.  None = read_changes falls back to
    # the file-diff (exact for appends, over-approximate for pre-r10
    # CoW commits and restore)
    generated: dict | None = None  # generated columns (r10, Delta
    # generation expressions): {col: sql_expr}, declared at CREATE.
    # A write that omits the column gets it computed; a write that
    # provides it is validated value == expr (mismatch raises, commits
    # nothing).  Rides every commit like constraints; restore adopts
    # the target's map with the state.
    ts: int | None = None  # commit timestamp, epoch MICROSECONDS (r10).
    # Monotonic per table: _commit stamps max(parent_ts + 1, now) — the
    # Delta clock-skew adjustment — so ts order == version order and
    # TIMESTAMP AS OF resolution is well-defined.  None on pre-r10
    # manifests (time travel falls back to the manifest file's mtime)
    chain: int = 0  # delta-manifest chain depth (r11): how many
    # delta-form links separate this version from its nearest full
    # (checkpoint) manifest.  0 = this manifest is self-contained on
    # disk.  Purely a storage detail — _commit uses it to decide when
    # the next commit must checkpoint
    identity: dict | None = None  # identity column (r12, Delta
    # GENERATED ALWAYS AS IDENTITY): {"col", "start", "step", "next"}.
    # Declared at CREATE; appends/overwrites auto-assign monotone
    # BIGINT values from the manifest high-watermark ("next") with
    # per-partition offsets — no global shuffle; explicit values are
    # refused (ALWAYS semantics).  "next" only advances (restore
    # inherits the HEAD's watermark, so restored ids are never
    # reused); clone carries the source's watermark.  merge/upsert/
    # replace_* refuse identity tables (the original Delta restriction)
    # — route inserts through append.
    partition_by: tuple[str, ...] | None = None  # partition spec
    # (r12, VERDICT r11 #3): logical column names declared at CREATE.
    # Partition columns stay IN the data files (reads are untouched —
    # no Delta-style value re-injection); the WRITER guarantees every
    # data file holds exactly ONE value tuple (file paths embed
    # __txp_<phys>=<value> directories) and the columns are forced
    # into stats_cols, so each file's min==max tags its partition and
    # the existing stats machinery (read_range, source pushFilters)
    # prunes partitions for free.  The spec is immutable, rides every
    # commit like constraints, and scopes compact()/vacuum()
    # maintenance to one partition.

    # The per-file read facts: pure manifest arithmetic, so the Spark
    # scan (``TxTable._scan``) and the pyarrow partition reader of the
    # ``format("txtable")`` source plan from the same answers.

    def phys_names(self) -> dict:
        """``{logical field: physical parquet column}`` in schema order:
        the colmap's name, else the logical name itself."""
        phys = {c["name"]: c["phys"] for c in self.colmap or ()}
        return {
            f["name"]: phys.get(f["name"], f["name"])
            for f in json.loads(self.schema_json)["fields"]
        }

    def names_at(self, other: "TxSnapshot") -> dict:
        """``{logical field: its logical name at ``other``}`` (None
        where ``other`` lacks the field), matched by physical column,
        which a rename keeps and the colmap never reassigns: how a
        change feed reads an older step under this snapshot's names."""
        at = {p: n for n, p in other.phys_names().items()}
        return {n: at.get(p) for n, p in self.phys_names().items()}

    def dvs_for(self, files) -> dict:
        """``{file: [DV sidecar paths]}`` for the files among ``files``
        that carry live deletion vectors in this snapshot."""
        dvs = self.dvs or {}
        return {f: dvs[f] for f in files if f in dvs}


def _manifest_name(version: int) -> str:
    return f"v{version:010d}.json"


class _Effect(NamedTuple):
    """What one mutation does to the rows it hit (see ``_mutate``)."""

    rewrite: DataFrame | None = None  # replaces the affected files
    changed: DataFrame | None = None  # rows of rewrite this changed
    insert: DataFrame | None = None  # rows added beside them
    cdf: DataFrame | None = None  # exact changes, + _change_type
    dv: DataFrame | None = None  # (_fp, _pos) rows to deletion-vector
    op: str | None = None  # manifest op, when not the mutation's own


class _Step(NamedTuple):
    """One read of a change-feed plan (``TxTable._change_steps``)."""

    version: int  # the commit: every row's _commit_version
    snap: TxSnapshot  # the state ``files`` are read under
    files: list  # data files; CDF sidecar paths when dv == "cdf"
    tag: str | None  # every row's _change_type; None = the sidecar's
    dv: str  # "cdf": read the sidecars verbatim; "anti": subtract
    # snap's vectors; "semi": keep only the rows snap's vectors name


class TxTable:
    # full (checkpoint) manifest cadence — class attribute so tests
    # can shrink it; see txlog.CHECKPOINT_EVERY
    CHECKPOINT_EVERY = txlog.CHECKPOINT_EVERY
    # lost-race retries of a commit (``_commit_new``,
    # ``_commit_vs_appends``) before it raises TxConflictError
    _COMMIT_RETRIES = 5

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        stats_cols: list[str] | None = None,
    ):
        """``stats_cols``: columns to record per-file min/max for in
        every manifest (numeric/string/date/timestamp; date-family
        stats serialize as ISO strings and ``files_in_range``
        normalizes bounds to match).  Costs one aggregate scan of
        each commit's NEW files (∝ commit, not table) and buys
        manifest-level file skipping via ``read_range`` — the
        Delta/Iceberg data-skipping idea, and the difference between
        'open 10M footers' and 'read one manifest' on a key-range
        query at 100 TB.

        ``stats_cols`` is a TABLE property, not a handle property:
        every commit records it in the manifest, and a handle built
        WITHOUT it (a foreachBatch sink, a maintenance job) adopts the
        committed value on first snapshot read — otherwise each fresh
        writer would silently stop recording stats and erode the
        pruning the table was created for (r8 review)."""
        self.spark = spark
        self.root = os.path.abspath(root)
        self.log_dir = os.path.join(self.root, _LOG_DIR)
        self.data_dir = os.path.join(self.root, _DATA_DIR)
        self.stats_cols = stats_cols

    # ---------------------------------------------------------- state

    @staticmethod
    def is_table(root: str) -> bool:
        return os.path.isdir(os.path.join(root, _LOG_DIR))

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        df: DataFrame,
        stats_cols: list[str] | None = None,
        generated: dict[str, str] | None = None,
        partition_by: list[str] | None = None,
        identity: "str | dict | None" = None,
    ) -> "TxTable":
        """``generated`` (r10): {col: sql_expr} generation
        expressions, declared at CREATE like Delta's — every later
        write computes omitted generated columns and validates
        provided ones.

        ``partition_by`` (r12): low-cardinality column(s) every data
        file must be single-valued on (see TxSnapshot.partition_by).
        Declared at CREATE only, immutable, and automatically added
        to ``stats_cols`` so each file's min==max stats tag its
        partition — partition pruning IS stats pruning.

        ``identity`` (r12): a surrogate-key BIGINT column the engine
        assigns (Delta ``GENERATED ALWAYS AS IDENTITY``) — a name, or
        ``{"col": name, "start": 1, "step": 1}``.  The create frame
        (and every later write) must NOT provide it."""
        if identity is not None:
            if isinstance(identity, str):
                identity = {"col": identity}
            idn = {
                "col": identity["col"],
                "start": int(identity.get("start", 1)),
                "step": int(identity.get("step", 1)),
            }
            if idn["step"] == 0:
                raise ValueError("identity step must be non-zero")
            if idn["col"] in df.columns:
                raise ValueError(
                    f"identity column {idn['col']!r} is GENERATED ALWAYS"
                    " — the create frame must not provide it"
                )
            if idn["col"] in (generated or {}):
                raise ValueError(
                    "a column cannot be both generated and identity"
                )
            if idn["col"] in (partition_by or []):
                raise ValueError(
                    "an identity column cannot be a partition column"
                )
            idn["next"] = idn["start"]
        if partition_by:
            missing = [c for c in partition_by if c not in df.columns]
            if missing:
                raise ValueError(
                    f"partition_by column(s) {missing} absent from the "
                    "create frame"
                )
            if set(partition_by) & set(generated or {}):
                raise ValueError(
                    "generated columns cannot be partition columns"
                )
            stats_cols = list(
                dict.fromkeys((stats_cols or []) + list(partition_by))
            )
        t = cls(spark, root, stats_cols=stats_cols)
        t._create_generated = dict(generated) if generated else None
        t._create_partition_by = (
            list(partition_by) if partition_by else None
        )
        t._create_identity = idn if identity is not None else None
        t.overwrite(df)
        return t

    def _versions(self) -> list[int]:
        return txlog.versions(self.log_dir)

    def snapshot(self, version: int | None = None) -> TxSnapshot | None:
        """Newest committed snapshot (None for a not-yet-created
        table), or — with ``version`` — that exact committed version
        for time travel.  The newest manifest IS the table state —
        there is no separate pointer to get out of sync."""
        if version is None:
            # head open: index-hint + forward probe — O(1)-ish in
            # retained version count (VERDICT r11 #4), no listdir
            head, m = txlog.head_version_and_manifest(self.log_dir)
            if m is None:
                return None
        else:
            versions = self._versions()
            if not versions:
                return None
            if version not in versions:
                raise FileNotFoundError(
                    f"version {version} of {self.root} does not exist "
                    f"(live: {versions[0]}..{versions[-1]}; older versions "
                    "may have been vacuumed)"
                )
            # materialized view — delta-form manifests reconstruct here
            m = txlog.load_manifest(self.log_dir, version)
        if self.stats_cols is None and m.get("stats_cols"):
            # adopt the table's committed stats policy (see __init__)
            self.stats_cols = list(m["stats_cols"])
        return TxSnapshot(
            m["version"],
            m["op"],
            tuple(m["files"]),
            m.get("schema"),
            m.get("stats"),
            m.get("txn"),
            tuple(m.get("dropped") or ()),
            tuple(m["colmap"]) if m.get("colmap") is not None else None,
            tuple(m.get("retired_phys") or ()),
            m.get("max_id"),
            m.get("constraints"),
            tuple(m["stats_cols"]) if m.get("stats_cols") else None,
            m.get("dvs"),
            cdf=tuple(m["cdf"]) if m.get("cdf") else None,
            generated=m.get("generated"),
            ts=m.get("ts"),
            chain=m.get("chain", 0),
            partition_by=(
                tuple(m["partition_by"]) if m.get("partition_by") else None
            ),
            identity=m.get("identity"),
        )

    def read(
        self, version: int | None = None, timestamp=None
    ) -> DataFrame:
        """Snapshot scan under the MANIFEST's schema, not the files'
        (``version`` time-travels to an older un-vacuumed commit —
        immutable data files make old snapshots readable for free).
        ``timestamp`` is TIMESTAMP AS OF (r10): the newest commit at or
        before the bound — datetime / ISO string / epoch seconds; see
        ``version_at``.  Parquet NULL-fills columns a file lacks when
        the read schema is supplied, which is what makes ``add_column``
        a metadata operation: old files are never rewritten, they just
        read as NULL in the new column (the same mechanism
        Delta/Iceberg schema evolution rides on)."""
        if timestamp is not None:
            if version is not None:
                raise ValueError(
                    "read: pass version OR timestamp, not both"
                )
            version = self.version_at(timestamp)
        snap = self.snapshot(version)
        if snap is None:
            raise FileNotFoundError(f"no committed version under {self.root}")
        return self._scan(snap)

    # ------------------------------------------------- column mapping

    @staticmethod
    def _colmap_or_none(snap: "TxSnapshot | None") -> list[dict] | None:
        """The snapshot's column mapping, or None for the identity
        mapping (phys == logical) every table has until its first
        rename/re-add — the None fast path keeps legacy manifests,
        plans and write layouts bit-identical to the pre-colmap era."""
        if snap is None or snap.colmap is None:
            return None
        return [dict(c) for c in snap.colmap]

    @staticmethod
    def _is_identity(colmap: list[dict] | None) -> bool:
        return colmap is None or all(c["name"] == c["phys"] for c in colmap)

    def _materialized_colmap(
        self, base: "TxSnapshot"
    ) -> tuple[list[dict], list[str], int]:
        """(colmap, retired physical names, max assigned id), deriving
        the identity mapping for manifests that predate column
        mapping.  Legacy ``dropped`` names become retired physical
        names (their phys WAS the logical name), so re-add safety
        holds across the format upgrade."""
        cm = self._colmap_or_none(base)
        if cm is None:
            schema = self._current_schema(base)
            cm = [
                {"id": i + 1, "name": f.name, "phys": f.name}
                for i, f in enumerate(schema.fields)
            ]
            return cm, list(base.dropped), len(cm)
        max_id = (
            base.max_id
            if base.max_id is not None
            else max((c["id"] for c in cm), default=0)
        )
        return cm, list(base.retired), max_id

    @staticmethod
    def _safe_phys(
        name: str, colmap: list[dict], retired: list[str], new_id: int
    ) -> str:
        """Physical column name for a newly added field: the logical
        name itself when no live or retired physical column claims it,
        else a fresh id-suffixed name — old files then simply lack the
        physical column and read NULL (the Delta/Iceberg column-
        mapping re-add semantics)."""
        in_use = {c["phys"] for c in colmap} | set(retired)
        if name not in in_use:
            return name
        # a user schema may legitimately contain a column named like an
        # id-suffixed candidate (e.g. 'a__v3'): probe forward until free
        # rather than asserting (bounded: len(in_use)+1 candidates)
        suffix = new_id
        while f"{name}__v{suffix}" in in_use:
            suffix += 1
        return f"{name}__v{suffix}"

    # ``_scan`` meta key -> (_metadata field, column name, type)
    _META = {
        "fp": ("file_path", "_fp", "string"),
        "pos": ("row_index", "_pos", "long"),
    }

    def _scan(
        self,
        snap: TxSnapshot,
        files: "list | tuple | None" = None,
        meta: tuple = (),
    ) -> DataFrame:
        """THE scan of committed data files (default: all of ``snap``'s)
        under that snapshot's manifest schema, column mapping and
        deletion vectors — no caller can apply one and forget another.

        - Schema: the manifest schema governs even mixed-schema file
          sets (files predating an add_column would otherwise decide
          the schema by footer order — silently dropping the new column
          in a copy-on-write rewrite).
        - Colmap: under a non-identity mapping the files are read under
          their PHYSICAL schema and projected back to logical names
          (renames never rewrite data).
        - DVs: rows named by the snapshot's sidecars for THESE files
          are anti-joined out — the merge-on-read half of DELETE.  A
          DV-less file set stays the bare parquet scan (plans and
          pre-DV behavior bit-identical).

        ``meta`` keeps ``"fp"`` (``_fp``, the source file URI) and/or
        ``"pos"`` (``_pos``, ``_metadata.row_index`` — the row's
        ordinal within its immutable file, the identity DVs key on).
        ``_metadata`` resolves only directly against the file source,
        so both are projected here, before any join/filter and before
        the physical->logical projection.  A projected name is
        reserved (ADVICE r9): a table column so named would be silently
        overwritten, then dropped.  A DV'd file set projects both.  An
        empty file list is an empty frame of the snapshot's schema
        (+ ``meta``)."""
        from pyspark.sql.types import StructField, StructType

        files = list(snap.files) if files is None else list(files)
        live = snap.dvs_for(files)
        want = [m for m in ("fp", "pos") if m in meta or live]
        if want and snap.schema_json is not None:
            fields = {
                f["name"] for f in json.loads(snap.schema_json)["fields"]
            }
            if {self._META[m][1] for m in want} & fields:
                raise ValueError(
                    "deletion-vector operations reserve the _fp/_pos "
                    "column names; rename the table column first"
                )
        if not files:
            schema = self._current_schema(snap)
            for m in want:
                schema = schema.add(*self._META[m][1:])
            return self.spark.createDataFrame([], schema)
        reader = self.spark.read
        phys = None  # physical names, when any differs from its field's
        if snap.schema_json is not None:
            logical = StructType.fromJson(json.loads(snap.schema_json))
            phys = snap.phys_names()
            if all(n == p for n, p in phys.items()):
                phys = None
            reader = reader.schema(
                logical
                if phys is None
                else StructType(
                    [
                        StructField(phys[f.name], f.dataType, f.nullable)
                        for f in logical.fields
                    ]
                )
            )
        df = reader.parquet(*files)
        for m in want:
            field, name, _ = self._META[m]
            df = df.withColumn(name, F.col(f"_metadata.{field}"))
        if phys is not None:
            df = df.select(
                *[
                    F.col(phys[f.name]).alias(f.name)
                    for f in logical.fields
                ],
                *[F.col(self._META[m][1]) for m in want],
            )
        if live:
            df = self._dv_join(
                df, {p for v in live.values() for p in v}, "left_anti"
            )
        dropped = [self._META[m][1] for m in want if m not in meta]
        return df.drop(*dropped) if dropped else df

    # ------------------------------------------------ deletion vectors

    @staticmethod
    def _dvs_of(snap: "TxSnapshot | None") -> dict | None:
        return dict(snap.dvs) if snap is not None and snap.dvs else None

    # ------------------------------------------------ commit timestamps

    def _ts_of(self, snap: "TxSnapshot") -> int | None:
        """Commit timestamp (epoch µs) of a snapshot; pre-r10 manifests
        carry none, so fall back to the manifest FILE's mtime — the
        same legacy source Delta uses for versions without
        commitInfo.timestamp.  mtimes are not guaranteed monotone
        across versions; the first post-upgrade commit re-anchors
        monotonicity via max(parent + 1, now)."""
        if snap.ts is not None:
            return snap.ts
        path = os.path.join(self.log_dir, _manifest_name(snap.version))
        try:
            return int(os.path.getmtime(path) * 1_000_000)
        except OSError:
            return None

    @staticmethod
    def _to_epoch_us(timestamp) -> int:
        """Normalize a user TIMESTAMP AS OF bound to epoch µs.
        Accepts datetime (naive = UTC, the engine's session timezone),
        ISO-8601 string, or epoch seconds (int/float, or a string of
        one — the source's ``timestampAsOf`` option form)."""
        import datetime as _dt

        if isinstance(timestamp, str):
            try:
                timestamp = _dt.datetime.fromisoformat(timestamp)
            except ValueError:
                timestamp = float(timestamp)
        if isinstance(timestamp, _dt.datetime):
            if timestamp.tzinfo is None:
                timestamp = timestamp.replace(tzinfo=_dt.timezone.utc)
            return int(timestamp.timestamp() * 1_000_000)
        if isinstance(timestamp, (int, float)):
            return int(timestamp * 1_000_000)
        raise TypeError(
            "timestamp must be a datetime, ISO-8601 string, or epoch "
            f"seconds; got {type(timestamp).__name__}"
        )

    def version_at(self, timestamp) -> int:
        """TIMESTAMP AS OF resolution: the newest retained version
        whose commit timestamp is <= ``timestamp``.  Raises when the
        bound predates the earliest retained commit (reading an
        unknown older state would be silently wrong) — the Delta
        contract."""
        bound = self._to_epoch_us(timestamp)
        versions = self._versions()
        if not versions:
            raise FileNotFoundError(f"no committed version under {self.root}")
        idx = txlog.read_index(self.log_dir, versions)
        chosen = None
        for v in versions:  # ts monotone over versions: last match wins
            ts = idx.get(v, {}).get("ts")  # index heals mtime fallback
            if ts is not None and ts <= bound:
                chosen = v
        if chosen is None:
            raise FileNotFoundError(
                f"timestamp {timestamp!r} predates the earliest retained "
                f"commit of {self.root} (earliest version {versions[0]}); "
                "older history may have been vacuumed"
            )
        return chosen

    @staticmethod
    def _norm_fp() -> Column:
        """``_metadata.file_path`` (a ``file:/x`` or ``file:///x`` URI)
        without its scheme, still %-encoded: the DV sidecars' ``file``
        form (``txlog.manifest_path`` gives the manifest's)."""
        return F.regexp_replace(F.col("_fp"), "^file:(//)?", "")

    def _dv_join(self, scanned: DataFrame, paths, how: str) -> DataFrame:
        """Join a ``_fp``/``_pos``-carrying scan against the DV
        sidecars ``paths`` on (file, position): ``left_anti`` subtracts
        the deleted rows (every DV'd read), ``left_semi`` recovers them
        (the change feed).  The DV side is deleted rows only — AQE
        broadcasts it when small (the scattered-mutation common case);
        a huge accumulated DV set shuffles, which is the signal to
        ``compact()`` and re-materialize."""
        dv = self.spark.read.schema(_DV_SCHEMA).parquet(*sorted(set(paths)))
        d = scanned.withColumn("_fpn", self._norm_fp()).alias("d")
        out = d.join(
            dv.alias("v"),
            (F.col("d._fpn") == F.col("v.file"))
            & (F.col("d._pos") == F.col("v.pos")),
            how,
        )
        return out.drop("_fpn")

    # -------------------------------------------------------- commits

    def _partition_spec(
        self, base: "TxSnapshot | None" = None
    ) -> list[str] | None:
        """The table's immutable partition spec (logical names), from
        the given/current snapshot or — during CREATE, before any
        manifest exists — the staged create-time spec.  Cached on the
        handle once resolved from a committed manifest (the spec can
        never change after CREATE), so per-write resolution costs no
        extra head-manifest parse on unpartitioned tables."""
        if base is not None:
            return (
                list(base.partition_by) if base.partition_by else None
            )
        cached = getattr(self, "_pby_cache", ())
        if cached != ():
            return list(cached) if cached else None
        snap = self.snapshot()
        if snap is None:
            return getattr(self, "_create_partition_by", None)
        spec = list(snap.partition_by) if snap.partition_by else None
        self._pby_cache = spec
        return spec

    # ------------------------------------------------ identity columns

    def _identity_of(self, base: "TxSnapshot | None") -> "dict | None":
        if base is not None and base.identity:
            return dict(base.identity)
        staged = getattr(self, "_create_identity", None)
        return dict(staged) if staged else None

    @staticmethod
    def _refuse_identity_col(
        df: DataFrame, idn: "dict | None", op: str
    ) -> None:
        """ALWAYS semantics: a write providing the identity column is
        refused (its values are the watermark's business)."""
        if idn and idn["col"] in df.columns:
            raise ValueError(
                f"{op} cannot provide identity column {idn['col']!r} "
                "(GENERATED ALWAYS AS IDENTITY); drop it from the frame"
            )

    def _refuse_identity_set(
        self, set_map: dict, op: str, base: "TxSnapshot | None"
    ) -> None:
        """ALWAYS semantics for mutations: SET on the identity column
        would rewrite generated values in place — refused on every
        update spelling (update / update_range / update_dv)."""
        idn = self._identity_of(base)
        if idn and idn["col"] in set_map:
            raise ValueError(
                f"{op} cannot set identity column {idn['col']!r} "
                "(GENERATED ALWAYS AS IDENTITY)"
            )

    def _refuse_identity_op(
        self, base: "TxSnapshot | None", op: str
    ) -> None:
        """merge/upsert/replace_* would need to assign ids to their
        insert slices mid-plan — refused for now, the restriction the
        original Delta identity release shipped with.  Route inserts
        through append()."""
        if base is not None and base.identity:
            raise ValueError(
                f"{op} is not supported on a table with identity "
                f"column {base.identity['col']!r}; use append/"
                "overwrite/update/delete"
            )

    def _assign_identity(
        self, df: DataFrame, idn: dict
    ) -> "tuple[DataFrame, int, DataFrame]":
        """Assign ``next + step*i`` to every incoming row WITHOUT a
        global shuffle (the Delta high-watermark design): pin the
        frame, collect per-Spark-partition row counts (dimension-
        sized), turn them into cumulative offsets, and let an
        Arrow-batched mapInPandas stamp each partition's contiguous id
        block in place.  Returns (frame-with-ids, new watermark,
        the pin to release after the files are written) — the pin is
        what keeps the partitioning (and so the pid->offset map)
        stable between the count job and the write job."""
        col, step, nxt = idn["col"], idn["step"], idn["next"]
        src = df.persist()
        counts = (
            src.groupBy(F.spark_partition_id().alias("_pid"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        offs, run = {}, 0
        for r in sorted(counts, key=lambda r: r["_pid"]):
            offs[r["_pid"]] = run
            run += r["n"]
        from pyspark.sql.types import LongType, StructField, StructType

        out_schema = StructType(
            [StructField(col, LongType(), False)] + list(src.schema.fields)
        )

        def assign(it):
            import numpy as np
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            seen = 0
            for pdf in it:
                ids = nxt + step * (
                    offs.get(pid, 0) + seen + np.arange(len(pdf))
                )
                seen += len(pdf)
                pdf.insert(0, col, ids.astype("int64"))
                yield pdf

        return src.mapInPandas(assign, out_schema), nxt + step * run, src

    def _write_data(
        self,
        df: DataFrame,
        colmap: list[dict] | None = None,
        arrange: bool = True,
        base: "TxSnapshot | None" = None,
    ) -> list[str]:
        """Materialize ``df`` (LOGICAL column names) as a fresh
        immutable commit directory; returns the part-file paths
        (never mutated afterwards).  A non-identity ``colmap`` renames
        to physical columns first so every data file of the table
        speaks physical names.  ``base`` supplies the partition spec
        (default: the handle's cached or head spec).

        On a PARTITIONED table every write path lands here, so the
        file-per-partition-value invariant is enforced in one place:
        the partition columns are duplicated under reserved
        ``__txp_<phys>`` names and the write partitionBys the COPIES —
        Spark splits files by value (and embeds
        ``__txp_<phys>=<value>`` path segments the maintenance ops
        scope by) while the real columns stay in the row data, keeping
        every read path (colmap, DVs, CDF, the pyarrow source)
        byte-identical to the unpartitioned case.  With ``arrange``
        (the default) rows are hash-repartitioned on the partition
        columns first — write parallelism without breaking
        single-valuedness (a task holding two values still writes them
        to separate files); compact passes arrange=False because it
        already shaped the frame (cluster order, output sizing) and
        the partitionBy alone enforces the invariant."""
        if not self._is_identity(colmap):
            phys = {c["name"]: c["phys"] for c in colmap}
            df = df.select(
                *[F.col(c).alias(phys.get(c, c)) for c in df.columns]
            )
        pby = self._partition_spec(base)
        if pby:
            pmap = (
                {c["name"]: c["phys"] for c in colmap}
                if not self._is_identity(colmap)
                else {}
            )
            pphys = [pmap.get(c, c) for c in pby]
            tmp = [f"__txp_{c}" for c in pphys]
            clash = set(tmp) & set(df.columns)
            if clash:
                raise ValueError(
                    f"column name(s) {sorted(clash)} collide with the "
                    "reserved __txp_ partition-path prefix"
                )
            split = df.select(
                "*", *[F.col(c).alias(t) for c, t in zip(pphys, tmp)]
            )
            if arrange:
                split = split.repartition(
                    self.spark.sparkContext.defaultParallelism,
                    *[F.col(c) for c in pphys],
                )
            return self._write_dir(split.write.partitionBy(*tmp))
        return self._write_dir(df.write)

    def _write_dir(self, writer) -> list[str]:
        """Run ``writer`` into a fresh immutable commit directory under
        ``data/``; returns its parquet part paths (partition
        subdirectories included)."""
        out = os.path.join(self.data_dir, uuid.uuid4().hex)
        writer.mode("error").parquet(out)
        return sorted(
            os.path.join(dp, n)
            for dp, _dirs, names in os.walk(out)
            for n in names
            if n.endswith(".parquet")
        )

    def _committed_txns(self) -> set[str]:
        """Transaction tags of every live manifest (idempotent-write
        bookkeeping, the public Delta ``txnAppId``/``txnVersion``
        pattern: a replayed writer skips a txn it already landed).

        Served from the commit index (r11): one cached sequential
        read + incremental suffix parses, not O(versions) manifest
        opens per commit — the Delta per-appId-txn-map idea.  Index
        holes (pre-r11 logs, crash between link and index append)
        heal by materializing that one manifest."""
        # heal=True: this scan runs with write intent (pre-commit
        # idempotency), the sanctioned place to persist healed lines
        idx = txlog.read_index(self.log_dir, self._versions(), heal=True)
        return {e["txn"] for e in idx.values() if e.get("txn")}

    def has_txn(self, txn: str) -> bool:
        """True if ``txn`` is already committed — for writers that must
        decide idempotency BEFORE doing pre-write validation that could
        reject a replayed batch (e.g. SCD2's order guard, which would
        otherwise raise on a checkpoint-loss replay whose effective
        dates are already in applied history)."""
        return txn in self._committed_txns()

    def committed_txns(self) -> set[str]:
        """All committed transaction tags — for writers whose
        idempotency unit is FINER than a whole commit (the SCD2 sink
        encodes per-effective-date slice fingerprints into its tags
        and skips already-committed slices on replay)."""
        return self._committed_txns()

    @staticmethod
    def _schema_of(df: DataFrame) -> str:
        return json.dumps(df.schema.jsonValue())

    @staticmethod
    def _check_columns(df: DataFrame, base: "TxSnapshot | None", op: str) -> None:
        """Reject writes whose column NAMES don't match the table's
        manifest schema (Delta rejects these too): ``_scan``
        imposes the manifest schema by name, so a misnamed/missing
        column would silently read back NULL-filled and an extra
        column would be silently dropped.  ``add_column`` is the
        sanctioned way to widen the schema first."""
        if base is None or base.schema_json is None:
            return
        have = set(df.columns)
        want = {f["name"] for f in json.loads(base.schema_json)["fields"]}
        if have != want:
            missing, extra = sorted(want - have), sorted(have - want)
            raise ValueError(
                f"{op} schema mismatch for {_LOG_DIR} table: "
                f"missing columns {missing}, unexpected columns {extra}; "
                "use add_column() to evolve the table schema first"
            )

    @staticmethod
    def _validate_constraints(
        df: DataFrame, base: "TxSnapshot | None", op: str
    ) -> None:
        """Enforce the table's CHECK constraints on a write's LOGICAL
        frame (Delta semantics: a row violates iff the expression
        evaluates to FALSE; NULL passes).  One aggregate pass over the
        incoming/rewritten data — cost ∝ the commit, never the table —
        counting every constraint in the same scan.  Raises
        TxConstraintViolation (committing nothing) with per-constraint
        violation counts."""
        cons = base.constraints if base is not None else None
        if not cons:
            return
        try:
            agg = df.agg(
                *[
                    F.count(
                        F.when(F.expr(e).eqNullSafe(F.lit(False)), F.lit(1))
                    ).alias(name)
                    for name, e in cons.items()
                ]
            )
        except Exception as exc:  # analysis error: constraint column
            # absent from this write's schema (e.g. an overwrite that
            # narrows the schema) — actionable error, not a stack trace
            raise ValueError(
                f"{op} schema cannot resolve CHECK constraint(s) "
                f"{sorted(cons)}: {exc.__class__.__name__}; drop the "
                "constraint first"
            ) from None
        counts = agg.first()
        bad = {name: counts[name] for name in cons if counts[name]}
        if bad:
            raise TxConstraintViolation(
                f"{op} violates CHECK constraint(s) "
                + ", ".join(
                    f"{n!r} ({cons[n]}): {c} row(s)" for n, c in bad.items()
                )
            )

    @staticmethod
    def _refuse_generated_targets(
        set_map: dict, op: str, base: TxSnapshot
    ) -> None:
        """UPDATE may not SET a generated column directly (Delta
        refuses too — its value is the expression's business); updates
        of the expression's INPUTS are validated post-rewrite."""
        hit = sorted(set(set_map) & set(base.generated or {}))
        if hit:
            raise ValueError(
                f"{op} cannot set generated column(s) {hit}; their "
                "values are derived from the generation expression"
            )

    def _guard_generated_schema(self, fields, gen, op: str) -> None:
        """Block a schema change that would leave a generation
        expression unresolvable — probe-analyze each expr against the
        POST-change schema (the constraint-guard pattern)."""
        if not gen:
            return
        from pyspark.sql.types import StructType

        probe = self.spark.createDataFrame([], StructType(list(fields)))
        for name, e in gen.items():
            try:
                probe.select(F.expr(e)).schema
            except Exception:
                raise ValueError(
                    f"{op} would break generated column {name!r} "
                    f"({e}); drop the generated column first"
                ) from None

    @staticmethod
    def _gen_of(base: "TxSnapshot | None") -> dict | None:
        return dict(base.generated) if base and base.generated else None

    def _apply_generated(self, df: DataFrame, gen: dict | None, op: str):
        """Generated-column write contract (r10, Delta generation
        expressions): compute each generated column the write OMITTED;
        ``_validate_generated`` then checks every one it PROVIDED —
        value must equal the expression row-for-row (NULL-safe), else
        the write raises and commits nothing.  One added projection +
        one aggregate pass, cost ∝ the commit."""
        if not gen:
            return df
        try:
            for c, e in gen.items():
                if c not in df.columns:
                    df = df.withColumn(c, F.expr(e))
        except Exception as exc:
            raise ValueError(
                f"{op} schema cannot compute generated column(s) "
                f"{sorted(gen)}: {exc.__class__.__name__}"
            ) from None
        return df

    @staticmethod
    def _validate_generated(df: DataFrame, gen: dict | None, op: str):
        gen = {c: e for c, e in (gen or {}).items() if c in df.columns}
        if not gen:
            return
        try:
            counts = df.agg(
                *[
                    F.count(
                        F.when(
                            ~F.col(c).eqNullSafe(F.expr(e)), F.lit(1)
                        )
                    ).alias(c)
                    for c, e in gen.items()
                ]
            ).first()
        except Exception as exc:
            raise ValueError(
                f"{op} schema cannot resolve generated column "
                f"expression(s) {sorted(gen)}: {exc.__class__.__name__}"
            ) from None
        bad = {c: counts[c] for c in gen if counts[c]}
        if bad:
            raise TxGeneratedColumnViolation(
                f"{op} provides generated column(s) whose values "
                "disagree with their generation expression: "
                + ", ".join(
                    f"{c!r} ({gen[c]}): {n} row(s)"
                    for c, n in bad.items()
                )
            )

    def _guard_constraint_schema(self, fields, cons, op: str) -> None:
        """Block a schema change that would leave a live CHECK
        constraint unresolvable (Delta refuses rename/drop of
        constrained columns for the same reason): probe-analyze every
        expression against the POST-change schema; failure means the
        caller must ``drop_constraint`` first.  Analysis-only — no
        data is read."""
        if not cons:
            return
        from pyspark.sql.types import StructType

        probe = self.spark.createDataFrame([], StructType(list(fields)))
        for name, e in cons.items():
            try:
                probe.select(F.expr(e))
            except Exception as exc:
                raise ValueError(
                    f"{op} would break CHECK constraint {name!r} "
                    f"({e}): {exc.__class__.__name__}; drop the "
                    "constraint first"
                ) from None

    def add_constraint(self, name: str, expr: str) -> int:
        """``ALTER TABLE ADD CONSTRAINT name CHECK (expr)`` — a
        metadata commit, but only after one validation scan proves the
        EXISTING data satisfies the expression (Delta does the same:
        a constraint can never be born already-violated).  From this
        version on, every append/overwrite/update/upsert validates its
        logical frame against the expression before writing;
        ``restore`` re-validates nothing because it also RESTORES the
        target version's constraint set (metadata restores with the
        state, like the schema) — the table never advertises a rule
        its data predates.  The
        expression is ANSI SQL over LOGICAL column names, so it
        survives rename_column-free schema evolution; constraints ride
        every manifest like the dropped-name history."""
        base = self._head()
        cons = dict(base.constraints or {})
        if name in cons:
            raise ValueError(
                f"constraint {name!r} already exists: {cons[name]}"
            )
        probe = TxSnapshot(  # validate existing data under the new rule
            base.version,
            base.op,
            base.files,
            base.schema_json,
            constraints={name: expr},
        )
        self._validate_constraints(self.read(), probe, "add_constraint")
        cons[name] = expr
        return self._commit(
            list(base.files),
            "add_constraint",
            base,
            schema_json=base.schema_json,
            stats=base.stats,
            constraints=cons,
        )

    def drop_constraint(self, name: str) -> int:
        """``ALTER TABLE DROP CONSTRAINT`` — metadata-only commit."""
        base = self._head()
        cons = dict(base.constraints or {})
        if name not in cons:
            raise ValueError(f"constraint {name!r} does not exist")
        del cons[name]
        return self._commit(
            list(base.files),
            "drop_constraint",
            base,
            schema_json=base.schema_json,
            stats=base.stats,
            constraints=cons,
        )

    @staticmethod
    def _footer_bound_ok(v) -> bool:
        """Is ``v`` (a parquet-footer min/max) a value the footer fast
        path can trust to EQUAL the Spark-aggregate form?  ints, bools
        and strings are exact (Python str comparison is code-point
        order == Spark's UTF8-binary collation; parquet-mr drops
        over-long binary stats rather than truncating, so a present
        string bound is the exact value); floats are exact unless NaN
        (parquet NaN statistics are unreliable by spec) or ±0.0
        (measured on this Spark: a file holding both -0.0 and 0.0
        footers as min=-0.0/max=0.0 while the aggregate returns the
        first-encountered sign for both — row-order-dependent, so any
        zero bound falls back to the scan); dates render
        to the identical ISO string the manifests store.  datetimes are
        REJECTED: Spark's default parquet timestamp encoding (INT96)
        carries no stats anyway, and a micros-encoded file's footer
        datetime may differ in tz-awareness from the collected form —
        the scan path stays authoritative for those."""
        import datetime
        import math

        if isinstance(v, (bool, int, str)):
            return True
        if isinstance(v, float):
            return not math.isnan(v) and v != 0.0
        return isinstance(v, datetime.date) and not isinstance(
            v, datetime.datetime
        )

    def _stats_from_footers(
        self, files: list[str], phys: dict
    ) -> dict | None:
        """Per-file stats from the parquet FOOTERS — metadata-only, no
        Spark job (r15, guide §1/§6: the per-commit stats pass was a
        second full scan of every freshly written file).  Returns None
        whenever any needed bound is missing or of a type the fast
        path can't prove equal to the Spark-aggregate form
        (``_footer_bound_ok``) — the caller then falls back to the
        original aggregate scan, so this path can change COST only,
        never stats values.  Driver cost is one footer read per file
        (threaded); commit sizes are file-count-bounded, never
        row-count-bounded."""
        import pyarrow.parquet as _pq

        need = {phys.get(c, c): c for c in (self.stats_cols or [])}

        def one(f: str):
            md = _pq.ParquetFile(f).metadata
            if md.num_rows == 0:
                # parity: the aggregate scan emits no group for an
                # empty file, so it never gets a stats entry
                return f, None
            per: dict[str, list] = {}
            seen: set[str] = set()
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                for i in range(rg.num_columns):
                    cc = rg.column(i)
                    p = cc.path_in_schema
                    if p not in need:
                        continue
                    seen.add(p)
                    st = cc.statistics
                    if st is None:
                        raise ValueError("no statistics")
                    if st.has_null_count and st.null_count == cc.num_values:
                        continue  # all-NULL chunk: contributes no bound
                    if not st.has_min_max:
                        raise ValueError("no min/max")
                    mn, mx = st.min, st.max
                    if not (
                        self._footer_bound_ok(mn)
                        and self._footer_bound_ok(mx)
                    ):
                        raise ValueError("untrusted bound type")
                    cur = per.get(p)
                    if cur is None:
                        per[p] = [mn, mx]
                    else:
                        cur[0] = min(cur[0], mn)
                        cur[1] = max(cur[1], mx)
            if seen != set(need):
                # a stats column absent from this file's schema: the
                # scan path resolves presence against the UNION schema
                # — ambiguous here, let it decide
                raise ValueError("stats column missing from file")
            entry = {
                "rows": md.num_rows,
                "min": {
                    lc: txlog.stat_value(per[pc][0] if pc in per else None)
                    for pc, lc in need.items()
                },
                "max": {
                    lc: txlog.stat_value(per[pc][1] if pc in per else None)
                    for pc, lc in need.items()
                },
            }
            return f, entry

        try:
            if len(files) > 4:
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(
                    max_workers=min(16, len(files))
                ) as pool:
                    results = list(pool.map(one, files))
            else:
                results = [one(f) for f in files]
        except Exception:
            return None  # any surprise → the scan path is authoritative
        return {f: e for f, e in results if e is not None}

    def _stats_for(
        self, files: list[str], colmap: list[dict] | None = None
    ) -> dict:
        """Per-file row count + min/max of ``stats_cols`` for freshly
        written files: parquet-footer metadata when every bound is
        footer-exact (``_stats_from_footers`` — no Spark job), else
        one aggregate scan grouped by source file.  Stats are keyed by
        LOGICAL name; the aggregation reads the physical columns when
        a colmap is in force."""
        if not files or not self.stats_cols:
            return {}
        phys = {c["name"]: c["phys"] for c in (colmap or [])}
        footer = self._stats_from_footers(files, phys)
        if footer is not None:
            return footer
        df = self.spark.read.parquet(*files).withColumn(
            "_fp", F.col("_metadata.file_path")
        )
        # A stats column no longer present in the data (dropped via
        # drop_column by another writer instance) must not crash the
        # write — collect bounds for the columns that exist.
        cols = [c for c in self.stats_cols if phys.get(c, c) in df.columns]
        aggs = [F.count(F.lit(1)).alias("_rows")]
        for c in cols:
            pc = F.col(phys.get(c, c))
            aggs += [F.min(pc).alias(f"_min_{c}"), F.max(pc).alias(f"_max_{c}")]
        out = {}
        for r in df.groupBy("_fp").agg(*aggs).collect():
            out[txlog.manifest_path(r._fp)] = {
                "rows": r._rows,
                "min": {c: txlog.stat_value(r[f"_min_{c}"]) for c in cols},
                "max": {c: txlog.stat_value(r[f"_max_{c}"]) for c in cols},
            }
        return out

    def _merged_stats(
        self,
        base: TxSnapshot | None,
        carried: list[str],
        new_stats: dict | None = None,
    ) -> dict | None:
        """The commit's stats: the carried files' entries from ``base``
        plus ``new_stats``, the new files' own (``_stats_for``)."""
        if not self.stats_cols:
            # keep whatever stats the carried files already have (a
            # stats-less writer must not blind a stats-ful table)
            if base and base.stats:
                return {f: base.stats[f] for f in carried if f in base.stats}
            return None
        prev = base.stats if base and base.stats else {}
        merged = {f: prev[f] for f in carried if f in prev}
        merged.update(new_stats or {})
        return merged

    def _commit(
        self,
        files: list[str],
        op: str,
        base: TxSnapshot | None,
        txn: str | None = None,
        schema_json: str | None = None,
        stats: dict | None = None,
        dropped: list[str] | None = None,
        colmap: list[dict] | None = None,
        retired: list[str] | None = None,
        max_id: int | None = None,
        constraints: dict | None = None,
        dvs: dict | None = None,
        cdf: list[str] | None = None,
        generated: dict | None = None,
        identity: dict | None = None,
    ) -> int:
        version = (base.version if base else 0) + 1
        if dropped is None:  # dropped-name history rides every commit
            dropped = list(base.dropped) if base else []
        if dvs is None and base is not None:
            dvs = dict(base.dvs) if base.dvs else None
        if dvs:
            # DV entries are keyed by live data file: a rewrite that
            # drops a file from the list physically materialized (or
            # replaced) its deletes, so its vector entry retires with
            # it — and vacuum then GCs the unreferenced DV parquet.
            live = set(files)
            dvs = {f: v for f, v in dvs.items() if f in live} or None
        if constraints is None and base is not None:
            constraints = base.constraints  # constraints ride every commit
        if generated is None and base is not None:
            generated = base.generated  # generation exprs ride every commit
        # partition spec: immutable, declared at CREATE, rides every
        # commit (the create commit picks it off _create_partition_by)
        partition_by = (
            list(base.partition_by)
            if base is not None and base.partition_by
            else getattr(self, "_create_partition_by", None)
        )
        if identity is None:
            # identity watermark rides every commit; assigning writes
            # pass the bumped dict explicitly
            identity = self._identity_of(base)
        if colmap is None and base is not None:
            # column-mapping state rides every commit once materialized
            colmap = self._colmap_or_none(base)
            if colmap is not None:
                retired = list(base.retired)
                max_id = base.max_id
        # commit timestamp (r10): epoch µs, monotone over versions —
        # max(parent + 1, wall clock) is the Delta-style clock-skew
        # adjustment that keeps ts order == version order even when a
        # replica's clock runs behind the previous committer's.
        parent_ts = self._ts_of(base) if base is not None else None
        now_us = int(time.time() * 1_000_000)
        ts = now_us if parent_ts is None else max(parent_ts + 1, now_us)
        manifest = {
            "version": version,
            "op": op,
            "files": files,
            "txn": txn,
            "schema": schema_json,
            "stats": stats,
            "dropped": dropped,
            "ts": ts,
        }
        prop = (
            list(self.stats_cols)
            if self.stats_cols
            else (list(base.stats_cols) if base and base.stats_cols else None)
        )
        if prop:
            # table property: rides every commit (an opt-out writer
            # records no stats for ITS files but must not erase the
            # policy); fresh handles adopt it on snapshot read
            manifest["stats_cols"] = prop
        if constraints is not None:
            manifest["constraints"] = constraints
        if generated is not None:
            manifest["generated"] = generated
        if partition_by:
            manifest["partition_by"] = partition_by
        if identity:
            manifest["identity"] = identity
        if dvs:
            manifest["dvs"] = dvs
        if cdf:
            # exact changeset of THIS commit — never inherited from base
            manifest["cdf"] = cdf
        if colmap is not None:
            manifest["colmap"] = colmap
            manifest["retired_phys"] = retired or []
            manifest["max_id"] = (
                max_id
                if max_id is not None
                else max((c["id"] for c in colmap), default=0)
            )
        try:
            # storage layer (r11): delta-encodes small changes against
            # the parent (I/O ∝ change, checkpoint every Nth link),
            # links atomic-exclusively, appends the commit-index line
            txlog.write_manifest(
                self.log_dir,
                manifest,
                parent_files=base.files if base else None,
                parent_stats=base.stats if base else None,
                parent_chain=base.chain if base else 0,
                checkpoint_every=self.CHECKPOINT_EVERY,
                parent_dvs=(base.dvs if base else None),
            )
        except FileExistsError:
            raise TxConflictError(
                f"version {version} of {self.root} was committed concurrently"
            ) from None
        return version

    def overwrite(self, df: DataFrame, txn: str | None = None) -> int:
        """Replace the table; with ``txn`` the REPLACEMENT STATE and
        its idempotency tag commit in one atomic manifest — the
        primitive an exactly-once view refresher needs (state and
        watermark can never disagree, whatever crashes between).

        Like ``append``, a lost manifest race is resolved by
        re-reading the snapshot (``_commit_new``): if the txn tag
        (ours, replayed by a twin) is now committed the write no-ops,
        otherwise the SAME already-written files re-commit against the
        new base — a losing refresher never surfaces TxConflictError to
        its caller for a race it can resolve (ADVICE r5)."""
        base = self.snapshot()
        if txn is not None and txn in self._committed_txns():
            return base.version  # replayed refresh: already applied
        pby = self._partition_spec(base)
        if pby:
            p_missing = [c for c in pby if c not in df.columns]
            if p_missing:
                raise ValueError(
                    f"overwrite cannot drop partition column(s) "
                    f"{p_missing}; the partition spec is immutable"
                )
        gen = (
            self._gen_of(base)
            if base is not None
            else getattr(self, "_create_generated", None)
        )
        idn = self._identity_of(base)
        self._refuse_identity_col(df, idn, "overwrite")
        df = self._apply_generated(df, gen, "overwrite")
        self._validate_generated(df, gen, "overwrite")
        pin = None
        assigned_from = None
        try:
            if idn is not None:
                # overwrite REPLACES the rows but the watermark stays
                # monotone (ids are never reused across the
                # replacement)
                assigned_from = idn["next"]
                df, idn["next"], pin = self._assign_identity(df, idn)
            self._validate_constraints(df, base, "overwrite")
            cm, retired, max_id = self._overwrite_colmap(base, df.columns)
            new = self._write_data(df, cm, base=base)
        finally:  # a failed check or write must not leak the pin
            if pin is not None:
                pin.unpersist()

        def recheck(nb: "TxSnapshot | None") -> dict:
            self._refuse_watermark_race(nb, idn, assigned_from, "overwrite")
            # a racing add_constraint must gate OUR rows too
            self._validate_constraints(df, nb, "overwrite")
            cm2, retired2, max_id2 = self._overwrite_colmap(nb, df.columns)
            self._refuse_colmap_race(cm2, cm, "overwrite")
            return {
                "retired": retired2,
                "max_id": max_id2,
                "generated": gen if nb is None else None,
            }

        return self._commit_new(
            new,
            "overwrite",
            base,
            txn,
            self._stats_for(new, cm),
            recheck,
            replace=True,
            schema_json=self._schema_of(df),
            colmap=cm,
            retired=retired,
            max_id=max_id,
            generated=gen if base is None else None,
            identity=idn,
        )

    def _overwrite_colmap(
        self, base: "TxSnapshot | None", columns: list[str]
    ) -> tuple[list[dict] | None, list[str] | None, int | None]:
        """Column mapping for a full-replace commit: retained names
        keep their id + physical name (appends after the overwrite
        stay compatible with any carried reader expectations), new
        names get fresh ids, and removed columns retire their
        physical names.  Identity tables stay identity (None)."""
        if base is None or base.colmap is None:
            return None, None, None
        cm, retired, max_id = self._materialized_colmap(base)
        by_name = {c["name"]: c for c in cm}
        out = []
        for name in columns:
            if name in by_name:
                out.append(by_name[name])
            else:
                max_id += 1
                out.append(
                    {
                        "id": max_id,
                        "name": name,
                        "phys": self._safe_phys(name, cm, retired, max_id),
                    }
                )
                cm = cm + [out[-1]]  # later new columns see this phys
        kept = {c["name"] for c in out}
        for c in by_name.values():
            if c["name"] not in kept and c["phys"] not in retired:
                retired.append(c["phys"])
        return out, retired, max_id

    def append(self, df: DataFrame, txn: str | None = None) -> int:
        """Append; with ``txn`` the write is idempotent — a tag already
        committed is skipped, which is what makes an at-least-once
        replayer (foreachBatch keyed by batch_id) exactly-once.

        Concurrent writers are first-class (VERDICT r4 #7): appends
        commute, so a lost manifest race is resolved by re-reading the
        snapshot and re-committing the SAME already-written data files
        against the new base — no data rewrite, just a fresh manifest
        (``_commit_new``, bounded by ``_COMMIT_RETRIES``; the txn-tag
        check re-runs each attempt in case the conflicting commit was
        our own replayed tag)."""
        base = self.snapshot()
        idn = self._identity_of(base)
        self._refuse_identity_col(df, idn, "append")
        df = self._apply_generated(df, self._gen_of(base), "append")
        self._validate_generated(df, self._gen_of(base), "append")
        if idn is None:
            self._check_columns(df, base, "append")
        if txn is not None and txn in self._committed_txns():
            return base.version if base else 0
        pin = None
        assigned_from = None
        # the try/finally covers the schema/constraint checks too — a
        # rejected identity append must not leak the persisted pin for
        # the session lifetime (ADVICE r12)
        try:
            if idn is not None:
                # ids assigned AFTER the idempotency check (a replay
                # must not burn watermark); the pin keeps the
                # pid->offset map stable until the files are written
                assigned_from = idn["next"]
                df, idn["next"], pin = self._assign_identity(df, idn)
                self._check_columns(df, base, "append")
            # manifest types, after identity assignment: a widened
            # incoming type must not land a file later reads choke on
            df = self._conform_types(df, base)
            # AFTER the idempotency check: a replayed batch must no-op
            # even if a constraint added since its first commit would
            # now reject it (has_txn's exactly-once contract; also
            # skips a wasted scan)
            self._validate_constraints(df, base, "append")
            cm = self._colmap_or_none(base)
            new = self._write_data(df, cm, base=base)
        finally:  # a failed check or write must not leak the pin
            if pin is not None:
                pin.unpersist()

        def recheck(nb: "TxSnapshot | None") -> None:
            self._check_columns(df, nb, "append")
            # a racing add_constraint must gate OUR rows too
            self._validate_constraints(df, nb, "append")
            self._refuse_colmap_race(self._colmap_or_none(nb), cm, "append")
            self._refuse_watermark_race(nb, idn, assigned_from, "append")

        return self._commit_new(
            new,
            "append",
            base,
            txn,
            self._stats_for(new, cm),
            recheck,
            schema_json=self._schema_of(df),
            identity=idn,
        )

    def _refuse_colmap_race(self, head_cm, wrote_cm, op: str) -> None:
        """A racing schema-evolution commit changed the column mapping:
        files already written speak stale physical names, so they must
        not be re-committed — the caller re-invokes."""
        if head_cm != wrote_cm:
            raise TxConflictError(
                f"the column mapping of {self.root} changed concurrently; "
                f"re-invoke {op}"
            )

    def _refuse_watermark_race(
        self, nb: "TxSnapshot | None", idn, assigned_from, op: str
    ) -> None:
        """The racer consumed identity watermark: our files hold ids
        the new head may already have assigned — a re-commit would
        duplicate the surrogate key.  Non-commuting, so surface it (the
        merge/replace_where convention): callers re-invoke and the
        fresh attempt assigns from the new watermark."""
        if idn is not None and (
            nb is None
            or nb.identity is None
            or nb.identity["next"] != assigned_from
        ):
            raise TxConflictError(
                f"identity watermark advanced concurrently "
                f"under {self.root}; re-invoke {op}"
            )

    def _commit_new(
        self,
        files: list[str],
        op: str,
        base: "TxSnapshot | None",
        txn: str | None,
        stats: dict | None,
        recheck,
        replace: bool = False,
        schema_json: str | None = None,
        **commit_kw,
    ) -> int:
        """THE commit of freshly written data files — ``append``,
        ``overwrite`` and both ``format("txtable")`` sink writers land
        here.  ``files`` join ``base``'s files (``replace``: replace
        them) with ``stats``, the new files' own per-file stats, beside
        the carried files' entries; ``schema_json`` is the new data's
        schema, kept only where the base has none or is replaced.  A
        ``txn`` already in the log no-ops.  A lost race re-reads the
        head and re-links the SAME files — new files commute with any
        racer — once ``recheck(new_base)`` has re-validated them
        against it: it raises to refuse and may return updated
        ``_commit`` keywords.  Manifest-only: it never touches Spark,
        so a session-less handle (``TxTable(None, root)``) commits the
        sink's Arrow-written files through it."""
        for attempt in range(self._COMMIT_RETRIES + 1):
            if txn is not None and txn in self._committed_txns():
                return base.version if base else 0
            if attempt:
                commit_kw.update(recheck(base) or {})
            carried = list(base.files) if base and not replace else []
            try:
                return self._commit(
                    carried + files,
                    op,
                    base,
                    txn,
                    schema_json=(
                        base.schema_json
                        if base and base.schema_json and not replace
                        else schema_json
                    ),
                    stats=self._merged_stats(
                        None if replace else base, carried, stats
                    ),
                    **commit_kw,
                )
            except TxConflictError:
                if attempt == self._COMMIT_RETRIES:
                    raise
                base = self.snapshot()

    def _head(self) -> TxSnapshot:
        base = self.snapshot()
        if base is None:
            raise FileNotFoundError(f"no committed version under {self.root}")
        return base

    def _current_schema(self, base: TxSnapshot):
        """The snapshot's governing schema; pre-schema-era manifests
        adopt the files' current schema (shared by every schema-
        evolution/restore path so the pre-schema handling can't
        drift between them)."""
        from pyspark.sql.types import StructType

        if base.schema_json is not None:
            return StructType.fromJson(json.loads(base.schema_json))
        return self.spark.read.parquet(*base.files).schema

    def add_column(self, name: str, dtype: str) -> int:
        """``ALTER TABLE ADD COLUMN`` as a METADATA-ONLY commit
        (reference R12, big_uery_handler.py:171-181 — there a BigQuery
        schema patch): the new manifest carries the same file list
        with an extended schema; existing files are never rewritten
        and read as NULL in the new column.  Contrast
        ``maintenance.add_column``, which rewrites a raw parquet dir
        O(table) — on a 100 TB table only the metadata form is
        viable.  Idempotent: adding an existing column is a no-op.

        Re-adding a previously DROPPED name is safe (r8): the new
        column gets a fresh field id and a fresh PHYSICAL name, so old
        files — which still hold the dropped column's values under the
        retired physical name — read NULL instead of resurrecting
        them (the Delta/Iceberg column-mapping semantics; pre-r8 this
        raised)."""
        base = self._head()
        schema = self._current_schema(base)
        if name in schema.fieldNames():
            return base.version
        needs_map = (
            base.colmap is not None
            or name in base.dropped  # legacy fence case: map our way out
        )
        if not needs_map:
            # identity fast path: phys == name is free and the
            # manifest stays colmap-less
            schema = schema.add(name, dtype)
            return self._commit(
                list(base.files),
                "add_column",
                base,
                schema_json=json.dumps(schema.jsonValue()),
                stats=self._merged_stats(base, list(base.files)),
            )
        cm, retired, max_id = self._materialized_colmap(base)
        max_id += 1
        cm = cm + [
            {
                "id": max_id,
                "name": name,
                "phys": self._safe_phys(name, cm, retired, max_id),
            }
        ]
        schema = schema.add(name, dtype)
        return self._commit(
            list(base.files),
            "add_column",
            base,
            schema_json=json.dumps(schema.jsonValue()),
            stats=self._merged_stats(base, list(base.files)),
            colmap=cm,
            retired=retired,
            max_id=max_id,
        )

    def drop_column(self, name: str) -> int:
        """``ALTER TABLE DROP COLUMN`` as a METADATA-ONLY commit: the
        new manifest keeps the same file list under a schema without
        the column — scans under the manifest schema simply never
        select it (parquet ignores extra file columns), old snapshots
        still time-travel with it, and post-drop writers append
        without it.  No rewrite at any table size.

        The dropped column's PHYSICAL name is retired forever; a
        later ``add_column`` of the same logical name gets a fresh
        field id + physical name and reads NULL from old files
        (column-mapping ids, r8 — pre-r8 the re-add was refused)."""
        from pyspark.sql.types import StructType

        base = self._head()
        schema = self._current_schema(base)
        if name not in schema.fieldNames():
            raise KeyError(f"column {name!r} does not exist in {self.root}")
        if name in (base.partition_by or ()):
            # the spec is immutable and file paths/stats are keyed on
            # it — dropping a partition column would orphan the layout
            raise ValueError(
                f"cannot drop partition column {name!r}; the partition "
                "spec is immutable"
            )
        if base.identity and name == base.identity["col"]:
            raise ValueError(
                f"cannot drop identity column {name!r}"
            )
        remaining = StructType([f for f in schema.fields if f.name != name])
        if not remaining.fields:
            raise ValueError("cannot drop the last remaining column")
        self._guard_constraint_schema(
            remaining.fields, base.constraints, "drop_column"
        )
        gen = dict(base.generated or {})
        gen.pop(name, None)  # dropping the generated col drops its expr
        self._guard_generated_schema(remaining.fields, gen, "drop_column")
        if self.stats_cols and name in self.stats_cols:
            # this writer must stop collecting bounds for the dropped
            # column or its next write crashes on the missing field
            # (_stats_for also self-heals for OTHER instances)
            self.stats_cols = [c for c in self.stats_cols if c != name]
        stats = self._merged_stats(base, list(base.files))
        if stats:  # drop the column's now-dead skipping bounds —
            # on COPIES: _merged_stats carries the base snapshot's
            # per-file dicts by reference, and a caller holding the
            # snapshot across this call must not see them mutated
            import copy

            stats = copy.deepcopy(stats)
            for per_file in stats.values():
                for side in ("min", "max"):
                    if isinstance(per_file.get(side), dict):
                        per_file[side].pop(name, None)
        kwargs = {}
        if base.colmap is not None:
            cm, retired, max_id = self._materialized_colmap(base)
            phys = next(c["phys"] for c in cm if c["name"] == name)
            kwargs = {
                "colmap": [c for c in cm if c["name"] != name],
                "retired": [*retired, phys],
                "max_id": max_id,
            }
        # colmap-less tables stay lean: the legacy ``dropped`` record
        # doubles as the retired-physical-name list (phys == name)
        return self._commit(
            list(base.files),
            "drop_column",
            base,
            schema_json=json.dumps(remaining.jsonValue()),
            stats=stats,
            dropped=[*base.dropped, name],
            generated=gen if base.generated is not None else None,
            **kwargs,
        )

    def rename_column(self, old: str, new: str) -> int:
        """``ALTER TABLE RENAME COLUMN`` as a METADATA-ONLY commit
        (reference R12's schema evolution, big_uery_handler.py:173-181;
        the canonical extension VERDICT r7 called for): the column
        keeps its field id and PHYSICAL parquet name — only the
        logical name in the manifest changes, so no data file is
        rewritten at any table size.  Reads map physical -> logical
        through the manifest colmap; per-file skipping stats re-key to
        the new logical name in the same commit.  Time travel across
        the rename sees each version's own name, exactly Delta's
        column-mapping behavior."""
        from pyspark.sql.types import StructField, StructType

        base = self._head()
        schema = self._current_schema(base)
        if old not in schema.fieldNames():
            raise KeyError(f"column {old!r} does not exist in {self.root}")
        if new in schema.fieldNames():
            raise ValueError(
                f"cannot rename {old!r} to {new!r}: target exists"
            )
        if old in (base.partition_by or ()):
            # the spec names LOGICAL columns and path segments key the
            # PHYSICAL name: a rename would desynchronize both; Delta
            # refuses partition-column renames under column mapping's
            # default too
            raise ValueError(
                f"cannot rename partition column {old!r}; the partition "
                "spec is immutable"
            )
        if base.identity and old == base.identity["col"]:
            raise ValueError(
                f"cannot rename identity column {old!r}"
            )
        cm, retired, max_id = self._materialized_colmap(base)
        cm = [
            {**c, "name": new} if c["name"] == old else c for c in cm
        ]
        renamed = StructType(
            [
                StructField(new, f.dataType, f.nullable, f.metadata)
                if f.name == old
                else f
                for f in schema.fields
            ]
        )
        self._guard_constraint_schema(
            renamed.fields, base.constraints, "rename_column"
        )
        if old in (base.generated or {}):
            raise ValueError(
                f"cannot rename generated column {old!r}; drop it first"
            )
        self._guard_generated_schema(
            renamed.fields, base.generated, "rename_column"
        )
        if self.stats_cols and old in self.stats_cols:
            self.stats_cols = [
                new if c == old else c for c in self.stats_cols
            ]
        stats = self._merged_stats(base, list(base.files))
        if stats:  # re-key skipping bounds to the new logical name
            import copy

            stats = copy.deepcopy(stats)
            for per_file in stats.values():
                for side in ("min", "max"):
                    d = per_file.get(side)
                    if isinstance(d, dict) and old in d:
                        d[new] = d.pop(old)
        return self._commit(
            list(base.files),
            "rename_column",
            base,
            schema_json=json.dumps(renamed.jsonValue()),
            stats=stats,
            colmap=cm,
            retired=retired,
            max_id=max_id,
        )

    def history(self) -> list[dict]:
        """Commit log, newest first: version / op / txn / timestamp /
        file count / row count (when stats exist) per manifest — the
        DESCRIBE HISTORY observability surface.  Served from the
        commit index (r11): one cached sequential read, never
        O(versions) manifest opens; partial stats (a stats-less
        writer appended) report n_rows=None rather than a confidently
        wrong sum (the rule txlog.index_entry applies at commit
        time).  ``timestamp`` is a tz-aware UTC datetime (pre-r10
        manifests: the manifest file's mtime, the same fallback time
        travel uses)."""
        import datetime as _dt

        idx = txlog.read_index(self.log_dir, self._versions())
        out = []
        for v in sorted(idx, reverse=True):
            e = idx[v]
            ts_us = e.get("ts")
            out.append(
                {
                    "version": v,
                    "op": e.get("op"),
                    "txn": e.get("txn"),
                    "timestamp": (
                        _dt.datetime.fromtimestamp(
                            ts_us / 1_000_000, tz=_dt.timezone.utc
                        )
                        if ts_us is not None
                        else None
                    ),
                    "n_files": e.get("nf"),
                    "n_rows": e.get("nr"),
                }
            )
        return out

    def restore(self, version: int) -> int:
        """RESTORE TABLE TO VERSION AS OF: re-commit an old snapshot's
        file list (+ schema + stats) as the NEW head — the bad-write
        undo.  Metadata-only and non-destructive: the rolled-back
        commits stay in the log for audit/time-travel until vacuumed,
        exactly the Delta RESTORE contract.  Fails if the target's
        files were already vacuumed away.  Restoring the current head
        is a no-op.  Dropped-column history, the retired-physical-name
        set and the field-id high-water mark are carried from the
        HEAD, not the target (they only grow): a restore to a pre-drop
        version resurfaces the column (its files are intact), and a
        later re-add of a dropped name still gets a fresh physical
        name (column-mapping ids, r8).

        Change-feed interaction: ``read_since`` keeps its add-only
        contract across a restore — files the restore brings back that
        a consumer's pinned version predates are (re-)delivered
        (over-approximation, consumers dedup), and rows the rollback
        REMOVED are never retracted (an add-only feed cannot express
        deletion; a consumer needing retraction must diff
        snapshots)."""
        base = self._head()
        if version == base.version:
            return base.version
        target = self.snapshot(version)  # raises if vacuumed/missing
        t_dv_paths = sorted(
            {p for v in (target.dvs or {}).values() for p in v}
        )
        missing = [
            f
            for f in [*target.files, *t_dv_paths]
            if not os.path.exists(f)
        ]
        if missing:
            raise FileNotFoundError(
                f"cannot restore {self.root} to v{version}: "
                f"{len(missing)} data file(s) were vacuumed, e.g. "
                f"{missing[0]}"
            )
        # A pre-schema-era target must not revert the table to
        # footer-order schema governance (the hazard _scan
        # documents): adopt the target files' schema into the manifest.
        schema_json = target.schema_json
        if schema_json is None:
            schema_json = json.dumps(
                self._current_schema(target).jsonValue()
            )
        kwargs = {}
        if base.colmap is not None or target.colmap is not None:
            # adopt the TARGET's mapping (its files speak its physical
            # names) but keep the HEAD's retired set and id high-water
            # mark — both only ever grow, and forgetting them across a
            # restore could recycle a physical name old files still use
            t_cm, t_retired, t_max = self._materialized_colmap(target)
            _, h_retired, h_max = self._materialized_colmap(base)
            retired = list(
                dict.fromkeys([*h_retired, *t_retired])
            )
            kwargs = {
                "colmap": t_cm,
                "retired": retired,
                "max_id": max(t_max, h_max),
            }
        return self._commit(
            list(target.files),
            "restore",
            base,
            schema_json=schema_json,
            stats=target.stats,
            # CHECK constraints restore WITH the state, like the schema
            # (Delta RESTORE restores metadata): carrying the head's
            # rules over the target's data could advertise a constraint
            # the restored rows violate — the one invariant
            # add_constraint promises never happens.  {} (not None)
            # when the target predates constraints, else _commit would
            # re-inherit the head's.
            constraints=dict(target.constraints or {}),
            generated=dict(target.generated or {}),
            # deletion vectors are STATE, not policy: the target's
            # vectors restore with its file list ({} when it had none
            # — _commit would otherwise re-inherit the head's)
            dvs=self._dvs_of(target) or {},
            **kwargs,
        )

    def read_since(self, version: int, until: int | None = None) -> DataFrame:
        """Rows in files ADDED after ``version`` (0: since before the
        first commit) — incremental consumption without reprocessing
        the table (the append-only core of a change-data-feed).  Exact
        for append/compact-only history; an intervening update/upsert
        rewrites whole files, so carried-along unchanged rows of those
        files appear too — an over-approximation, never a miss.
        Downstream incremental consumers dedup on their own key, same
        contract as replaying an at-least-once feed.

        ``until`` pins the upper bound to a specific committed version
        (default: the newest).  A consumer that records the version it
        processed MUST pin — against the live head, a commit landing
        between "note the head version" and "read the delta" would be
        consumed now but re-delivered next cycle (the matview
        double-count race).

        Deletion vectors (r9): the head's DVs are applied to the
        DELIVERED files (a row appended then DV-deleted inside the
        window is never delivered — consistent with the head state),
        but DV deletes on files the consumer already saw are NOT
        retracted — an add-only feed cannot express deletion, the same
        restore caveat above.  ``delete_dv``/``update_dv`` are
        non-append ops, so matview's incremental fast path already
        falls back to a full recompute when one intervenes."""
        return self._scan(*self._added_since(version, until))

    def _since_base(
        self, since: int, from_v1: bool = False
    ) -> "TxSnapshot | None":
        """The snapshot a feed of the versions after ``since`` diffs
        against; None for 0, the empty table before the first commit.
        Raises the one retention error of both feeds when the log no
        longer holds ``since`` — or, for a change history from 0
        (``from_v1``), v1: the state before a vacuumed version cannot
        be reconstructed, and guessing it would be silently wrong."""
        vs = self._versions()
        if since in vs:
            return self.snapshot(since)
        if since == 0 and not (from_v1 and vs and vs[0] > 1):
            return None
        span = f"{vs[0]}..{vs[-1]}" if vs else "none"
        raise FileNotFoundError(
            f"version {since or 1} of {self.root} is not in the log "
            f"(retained: {span}) — vacuum retention passed the "
            "requested window; start from a retained version and keep "
            "`retain` above the longest consumer outage (the "
            "Delta-source contract)"
        )

    def _added_since(
        self, version: int, until: int | None = None
    ) -> "tuple[TxSnapshot, list[str]]":
        """The add-only feed's plan, of ``read_since`` and the source's
        stream: the snapshot at ``until`` (default: the head) and its
        files added after ``version``, read under that snapshot's
        vectors.  Manifest-only, no Spark."""
        old = self._since_base(version)
        head = self.snapshot(until)
        if head is None:
            raise FileNotFoundError(f"no committed version under {self.root}")
        seen = set(old.files) if old else set()
        return head, [f for f in head.files if f not in seen]

    # ops that re-arrange bytes without changing table content: their
    # file diffs are pure noise to a change consumer
    _CONTENT_NEUTRAL_OPS = frozenset({"compact", "purge"})
    # labels="simple": a CDF sidecar's update images read as the
    # delete/insert pair
    _SIMPLE_LABELS = {"update_preimage": "delete", "update_postimage": "insert"}

    def _change_steps(
        self,
        since: int,
        until: int | None = None,
        labels: str = "simple",
        skip_neutral: bool = True,
    ) -> list[_Step]:
        """THE plan of a change feed over the versions after ``since``
        up to ``until`` (default: the head), in commit order —
        ``read_changes`` runs it through Spark, the source's
        ``readChangeFeed`` through pyarrow.  Manifest-only, no Spark.
        Per version:

        - a content-neutral op (compact/purge) yields nothing when
          ``skip_neutral``: its diff is byte movement, not change;
        - a commit with a CDF sidecar yields the sidecar (``"cdf"``)
          instead of its over-approximate file diff;
        - otherwise added files read as inserts under the commit's
          vectors (a restore to a DV'd version must not resurrect
          rows), removed files as deletes under the PREVIOUS
          version's (rows dead there were deleted earlier), and the
          sidecars the commit added to carried files name exact row
          deletes (``"semi"``; the step's snapshot carries only those
          fresh sidecars).

        ``labels="delta"`` tags an update_dv commit's fresh deletes
        ``update_preimage`` and its added rows ``update_postimage``;
        every other file diff keeps delete/insert under both
        labelings (merge_dv, pre-r10 CoW and restore cannot pair)."""
        if labels not in ("simple", "delta"):
            raise ValueError(
                f"labels must be 'simple' or 'delta', got {labels!r}"
            )
        prev = self._since_base(since, from_v1=True)
        steps: list[_Step] = []
        for v in self._versions():
            if v <= since or (until is not None and v > until):
                continue
            base, cur = prev, self.snapshot(v)
            prev = cur
            if skip_neutral and cur.op in self._CONTENT_NEUTRAL_OPS:
                continue
            if cur.cdf:
                steps.append(_Step(v, cur, list(cur.cdf), None, "cdf"))
                continue
            paired = labels == "delta" and cur.op == "update_dv"
            old = set(base.files) if base else set()
            added = [f for f in cur.files if f not in old]
            if added:
                tag = "update_postimage" if paired else "insert"
                steps.append(_Step(v, cur, added, tag, "anti"))
            if base is None:
                continue
            now = set(cur.files)
            removed = [f for f in base.files if f not in now]
            if removed:
                steps.append(_Step(v, base, removed, "delete", "anti"))
            seen = base.dvs or {}
            fresh = {}
            for f, paths in (cur.dvs or {}).items():
                new = [p for p in paths if p not in seen.get(f, ())]
                if new and f in old:
                    fresh[f] = new
            if fresh:
                tag = "update_preimage" if paired else "delete"
                snap = dataclasses.replace(cur, dvs=fresh)
                steps.append(_Step(v, snap, list(fresh), tag, "semi"))
        return steps

    def read_changes(
        self,
        since: int,
        until: int | None = None,
        skip_content_neutral: bool = True,
        labels: str = "simple",
    ) -> DataFrame:
        """ROW-LEVEL change feed (r9, CDF-lite): every row change
        committed after ``since`` up to ``until``, tagged
        ``_change_type`` ('insert' | 'delete') and ``_commit_version``.
        Updates appear as a delete+insert pair (the minimal CDF form;
        Delta's pre/postimage pairing is a labeling refinement).

        Precision by op class:
        - appends / inserts: exact (rows of added files);
        - merge-on-read mutations (delete_dv/update_dv/merge_dv):
          EXACT row-level deletes — the new sidecar entries name the
          (file, position) identities, something the add-only
          ``read_since`` feed cannot express;
        - copy-on-write mutations (update/delete/upsert/merge/
          replace_where) committed since r10: EXACT — the commit
          carries a ``_cdf`` sidecar (Delta's _change_data directory
          idea) naming only the rows that actually changed, and this
          feed reads it INSTEAD of the file diff;
        - pre-r10 CoW commits and restore(): file-granular —
          carried-along unchanged rows of a rewritten file emit as a
          delete+insert pair (an over-approximation that key-folding
          consumers converge through; never a miss);
        - content-neutral maintenance (compact / purge) emits NOTHING
          by default (``skip_content_neutral``) — their diffs are
          byte movement, not change.

        ``labels`` (r10): "simple" (default) emits the two-tag form
        ('insert' | 'delete'; updates appear as a pair) — the form the
        oracles key on; "delta" passes through the sidecars' four-tag
        Delta CDF labels ('update_preimage' / 'update_postimage' pair
        updates to their row) and tags update_dv steps the same way
        from the op.  The steps are ``_change_steps``'.

        Cost ∝ the changed files and sidecars in the window, never
        the table.  Every step reads under the ``until`` snapshot's
        logical names, matched by field (physical column, which a
        rename keeps and the colmap never reassigns): a column renamed
        inside the window stays one column, a column added later reads
        NULL on older steps, and a dropped one is absent."""
        from pyspark.sql.types import StructType

        head = self.snapshot(until)
        if head is None:
            raise FileNotFoundError(f"no committed version under {self.root}")
        schema = StructType.fromJson(json.loads(head.schema_json))
        relabel = F.col("_change_type")
        if labels == "simple":
            cases = F
            for old, new in self._SIMPLE_LABELS.items():
                cases = cases.when(relabel == old, F.lit(new))
            relabel = cases.otherwise(relabel)

        def under_head(df: DataFrame, snap: TxSnapshot, kind, version):
            src = head.names_at(snap)
            return df.select(
                kind.alias("_change_type"),
                F.lit(version).cast("long").alias("_commit_version"),
                *[
                    F.col(src[f.name]).alias(f.name)
                    if src[f.name] in df.columns
                    else F.lit(None).cast(f.dataType).alias(f.name)
                    for f in schema.fields
                ],
            )

        parts: list[DataFrame] = []
        for st in self._change_steps(
            since, until, labels, skip_content_neutral
        ):
            if st.dv == "cdf":
                # sidecars hold the commit's logical names
                ch = self.spark.read.parquet(*st.files)
                parts.append(under_head(ch, st.snap, relabel, st.version))
                continue
            if st.dv == "semi":
                # scan WITHOUT the vectors: the rows they name are the
                # point
                df = self._dv_join(
                    self._scan(
                        dataclasses.replace(st.snap, dvs=None),
                        st.files,
                        meta=("fp", "pos"),
                    ),
                    [p for ps in st.snap.dvs.values() for p in ps],
                    "left_semi",
                ).drop("_fp", "_pos")
            else:
                df = self._scan(st.snap, st.files)
            parts.append(under_head(df, st.snap, F.lit(st.tag), st.version))
        if not parts:
            empty = self.spark.createDataFrame([], schema)
            return under_head(empty, head, F.lit(None).cast("string"), 0)
        return reduce(DataFrame.unionByName, parts)

    # ------------------------------------------------- file skipping

    @staticmethod
    def _norm_bound(bound, stored_exemplar):
        """Align a caller bound with the manifest's stat representation.
        Date / timestamp mins and maxes are stored as ISO strings
        (lexical order == temporal order, ``txlog.stat_value``), which
        also yields the identical form for a bound — a tz-aware one
        included.  Decimals/bytes are rejected loudly — their lexical
        order is NOT value order, and a silent mis-compare here would
        skip files and change results."""
        import datetime
        import decimal

        if bound is None or not isinstance(stored_exemplar, str):
            return bound
        if isinstance(bound, str):
            return bound
        if isinstance(bound, (datetime.date, datetime.datetime)):
            return txlog.stat_value(bound)
        raise TypeError(
            "files_in_range: stats for this column are stored as strings; "
            f"supported bound types are str/date/datetime, got "
            f"{type(bound).__name__}"
            + (
                " (Decimal lexical order is not value order)"
                if isinstance(bound, decimal.Decimal)
                else ""
            )
        )

    def files_in_range(
        self, col: str, lo=None, hi=None, snap: TxSnapshot | None = None
    ) -> list[str]:
        """Manifest-level data skipping: the files whose recorded
        [min, max] for ``col`` can intersect [lo, hi].  Files without
        stats (pre-stats commits, NULL-only files) are conservatively
        kept — skipping must never change results, only cost.
        Numeric and string columns compare natively; date/timestamp
        bounds are normalized to the manifests' ISO-string form.
        ``snap`` pins the snapshot (mutations prune against the SAME
        base their survivor list derives from); default is the head."""
        if snap is None:
            snap = self.snapshot()
        if snap is None:
            raise FileNotFoundError(f"no committed version under {self.root}")
        keep = []
        for f in snap.files:
            st = (snap.stats or {}).get(f)
            fmin = st["min"].get(col) if st else None
            fmax = st["max"].get(col) if st else None
            if fmin is None or fmax is None:
                keep.append(f)
                continue
            f_lo = self._norm_bound(lo, fmin)
            f_hi = self._norm_bound(hi, fmax)
            if f_lo is not None and fmax < f_lo:
                continue
            if f_hi is not None and fmin > f_hi:
                continue
            keep.append(f)
        return keep

    def read_range(self, col: str, lo=None, hi=None) -> DataFrame:
        """Key-range scan that opens only the files the manifest stats
        admit, then applies the exact predicate (skipping is a
        superset filter).  On a 100 TB time-keyed table this is the
        difference between scanning the table and scanning a day."""
        # ONE snapshot for both the pruning and the scan: a head
        # re-read in between would scan a newer file list under this
        # snapshot's vectors and resurrect rows a racing delete_dv hid
        snap = self._head()
        df = self._scan(snap, self.files_in_range(col, lo, hi, snap=snap))
        if lo is not None:
            df = df.filter(F.col(col) >= F.lit(lo))
        if hi is not None:
            df = df.filter(F.col(col) <= F.lit(hi))
        return df

    def _candidate_files_for_keys(
        self, base: TxSnapshot, batch: DataFrame, keys: list[str]
    ) -> list[str]:
        """Manifest-level pruning of the affected-file search shared by
        merge/upsert: a file whose recorded [min, max] for a key column
        cannot intersect the batch's key range cannot contain a match,
        so it is skipped WITHOUT opening its footer.  On a 100 TB table
        clustered/z-ordered on the merge key this turns the
        affected-file scan from O(table) into O(slice); unkeyed tables
        (no ``stats_cols`` on the key) fall back to the full list.  One
        metadata-sized aggregate over the batch computes every key's
        bounds in a single job.  NULL keys never match under equality,
        so non-null bounds are sufficient — an all-NULL key column
        means NOTHING can match and the scan is skipped entirely.
        Files without stats are conservatively kept (pruning changes
        cost, never results)."""
        stats = base.stats or {}
        with_stats = [
            k
            for k in keys
            if any(
                (stats.get(f) or {}).get("min", {}).get(k) is not None
                for f in base.files
            )
        ]
        if not with_stats:
            return list(base.files)
        bounds = batch.agg(
            *[F.min(k).alias(f"lo_{i}") for i, k in enumerate(with_stats)],
            *[F.max(k).alias(f"hi_{i}") for i, k in enumerate(with_stats)],
        ).first()
        cand = list(base.files)
        for i, k in enumerate(with_stats):
            lo, hi = bounds[f"lo_{i}"], bounds[f"hi_{i}"]
            if lo is None:  # every batch key is NULL: no match possible
                return []
            try:
                keep = set(self.files_in_range(k, lo, hi, snap=base))
            except TypeError:  # unorderable stored form: stay conservative
                continue
            cand = [f for f in cand if f in keep]
        return cand

    # ---------------------------------------- copy-on-write mutations

    def _affected(self, base: TxSnapshot, files, match) -> dict:
        """``{file: live rows}`` for the files among ``files`` holding a
        live row of ``match(scan)`` (a filter or key semi-join over the
        snapshot scan) — the affected-file search of every mutation, and
        its match count.  No candidates: no scan, no job.  DV-deleted
        rows never make a file affected.  The result is metadata-sized
        (a few paths), safe to collect on the driver."""
        if not files:
            return {}
        rows = (
            match(self._scan(base, files, meta=("fp",)))
            .groupBy("_fp")
            .count()
            .collect()
        )
        return {txlog.manifest_path(r._fp): r["count"] for r in rows}

    @staticmethod
    def _rebaseable_between(
        old: TxSnapshot,
        new: TxSnapshot,
        read_files: "set[str] | None",
    ) -> bool:
        """Can a mutation whose read set was ``read_files`` (the
        manifest-pruned candidate files it scanned for matches; None =
        it read the whole table) safely re-commit against ``new``
        after losing the race to the commits separating ``old`` from
        ``new``?  Two admissible interleavings (r10, widened from
        pure-append-only per VERDICT r9 #4 — Delta's disjoint-file
        admission):

        - PURE APPENDS (the r9 rule): nothing removed, no metadata or
          DV change — appended rows don't participate in a mutation
          whose read set predates them (documented WriteSerializable
          caveat: a racing blind append CAN land rows a merge would
          have claimed).
        - DISJOINT REWRITES: the racer removed/rewrote/DV'd only files
          OUTSIDE my read set.  My pruning already proved those files
          can contain no row my keys/range match (their stats exclude
          my bounds), so re-serializing my mutation after the racer
          reads the same rows and writes the same result; the racer's
          file swaps carry into my survivor list by rebasing.  Two
          merges on different key ranges of a clustered table compose
          this way; two touching the same FILE still conflict (each
          survivor list derives from its snapshot).

        Schema / constraint / colmap changes always conflict
        (metadata governs how my outputs were written and validated)."""
        if not (
            new.schema_json == old.schema_json
            and (new.constraints or {}) == (old.constraints or {})
            and new.colmap == old.colmap
        ):
            return False
        removed = set(old.files) - set(new.files)
        odvs, ndvs = old.dvs or {}, new.dvs or {}
        if not removed and odvs == ndvs:
            return True  # pure appends
        if read_files is None:
            return False  # whole-table read: any rewrite is a conflict
        if removed & read_files:
            return False
        # a racer DV-ing rows inside my read set is a rewrite of it
        dv_changed = {
            f
            for f in set(odvs) | set(ndvs)
            if odvs.get(f) != ndvs.get(f)
        }
        return not (dv_changed & read_files)

    def _commit_vs_appends(
        self,
        base: TxSnapshot,
        op: str,
        affected: set,
        new: list[str],
        txn: str | None,
        dv_delta: dict | None,
        cdf: list[str] | None,
        read_files: "set[str] | None",
    ) -> int:
        """Commit a snapshot-derived mutation (survivors = base.files
        minus ``affected``, plus ``new``), auto-resolving lost races
        against ADMISSIBLE interleavings (``_rebaseable_between``):
        pure appends always, and — when the caller declares the
        ``read_files`` its decisions derived from (the manifest-pruned
        candidate set) — racers that removed/DV'd only files OUTSIDE
        that read set.  The racing commits' files join the survivor
        list and the same already-written outputs re-commit, no
        recomputation.  Any other interleaving raises TxConflictError
        for the caller to re-invoke (their survivor/DV decisions would
        be stale).  ``dv_delta`` ({file: new sidecar paths}) composes
        against EACH retry base's vectors, so a DV mutation rebased
        over a racer's unrelated DV change keeps both.  Delta caveat
        mirrored: a racing blind append CAN land rows a just-committed
        upsert/merge would have claimed (duplicate keys) —
        WriteSerializable, not Serializable."""
        new_stats = self._stats_for(new, self._colmap_or_none(base))
        for attempt in range(self._COMMIT_RETRIES + 1):
            survivors = [f for f in base.files if f not in affected]
            dvs = None
            if dv_delta is not None:
                dvs = self._dvs_of(base) or {}
                for f, paths in dv_delta.items():
                    dvs[f] = list(dvs.get(f, [])) + list(paths)
            try:
                return self._commit(
                    survivors + new,
                    op,
                    base,
                    txn=txn,
                    schema_json=base.schema_json,
                    stats=self._merged_stats(base, survivors, new_stats),
                    dvs=dvs,
                    cdf=cdf,
                )
            except TxConflictError:
                nb = self.snapshot()
                if txn is not None and txn in self._committed_txns():
                    return nb.version  # our twin's replay landed it
                if (
                    attempt == self._COMMIT_RETRIES
                    or not self._rebaseable_between(base, nb, read_files)
                ):
                    raise
                base = nb

    def _mutate(
        self,
        base: TxSnapshot,
        op: str,
        files: "list[str] | None",
        match,
        effect,
        meta: tuple = (),
        txn: str | None = None,
    ) -> tuple:
        """THE executor of snapshot-derived mutations: every update,
        delete, DV mutation, upsert, merge, replace and purge commits
        here, so each gets the same scan, validation, sidecars and
        commit.  Returns ``(version, n)``, ``n`` the live rows the
        match found.

        - Read set: ``files`` (the stats-pruned candidates), or None
          for a whole-table read.  It is also the ``read_files`` the
          commit declares for disjoint-writer admission.
        - Match: ``match(scan)`` filters or key-semi-joins the
          snapshot scan to find the affected files (``_affected``);
          None = every file of ``files`` is affected (purge).
        - Effect: ``effect(hit, n)`` gets the affected files' rows
          (their ``_scan`` under ``meta``) and ``n``, the live rows
          the match found, and returns an ``_Effect``: ``rewrite``
          replaces the affected files (copy-on-write) and ``changed``
          names its rows the mutation changed, ``insert`` adds rows
          beside them, ``cdf`` is the exact changeset and ``dv`` the
          ``(_fp, _pos)`` rows to deletion-vector.  With nothing
          affected only ``insert`` can land; with nothing to write
          either, the mutation commits an EMPTY-CHANGE version before
          any validation (Delta parity: every mutation call advances
          the version, so ``restore``/``history`` arithmetic never
          depends on whether rows matched).

        Every frame written is conformed to the manifest types (ANSI
        casts — a type-drifting expression fails its own write, never
        poisons later reads).  ``changed`` and ``insert`` — the only
        rows that can break a CHECK constraint or generation
        expression; kept rows passed at their own commit — are gated
        by both before anything is written.  Data files take the
        snapshot's colmap; the CDF sidecar is sized to the affected
        file count; DV sidecar keys are manifest paths
        (``txlog.manifest_path``; sidecar ``file`` values stay encoded,
        the form ``_dv_join`` compares against ``_norm_fp``); the
        commit retries per ``_commit_vs_appends``.

        The hit is NOT cached: under AQE a cached frame's first use is
        its own materialization job, and on update/delete/replace/DV
        it saved none — upsert, merge and purge measured +1 to +3 jobs
        with it (tests/test_job_counts.py), and update_dv ran slower
        caching whole affected files.  An effect that reuses a frame
        many times (merge's clause join) persists that frame itself."""
        search = list(base.files) if files is None else files
        found = (
            dict.fromkeys(search, 0)
            if match is None
            else self._affected(base, search, match)
        )
        affected = sorted(found)
        n = sum(found.values())
        fx = effect(self._scan(base, affected, meta), n)
        if not affected:  # nothing to rewrite, change-log or vector
            fx = _Effect(insert=fx.insert, op=fx.op)

        def union(*parts):
            parts = [p for p in parts if p is not None]
            return reduce(DataFrame.unionByName, parts) if parts else None

        new = []
        check = union(fx.changed, fx.insert)
        if check is not None:
            check = self._conform_types(check, base)
            self._validate_constraints(check, base, op)
            self._validate_generated(check, self._gen_of(base), op)
        out = union(fx.rewrite, fx.insert)
        if out is not None:
            out = self._conform_types(out, base)
            new = self._write_data(out, self._colmap_or_none(base), base=base)
        cdf = dv_delta = None
        if fx.cdf is not None:
            changes = self._conform_types(
                fx.cdf, base, passthrough=("_change_type",)
            )
            cdf = self._write_cdf(changes, parts=len(affected))
        if fx.dv is not None:
            seen = Observation()  # the vectored files, free on the write
            paths = self._write_dv(
                fx.dv.select(
                    self._norm_fp().alias("file"), F.col("_pos").alias("pos")
                ).observe(seen, F.collect_set("file").alias("files"))
            )
            # a DELTA, not the composed dict: the commit re-applies it
            # over each retry base's vectors
            dv_delta = {
                txlog.manifest_path(f): list(paths) for f in seen.get["files"]
            }
        version = self._commit_vs_appends(
            base,
            fx.op or op,
            set(affected) if fx.rewrite is not None else set(),
            new,
            txn,
            dv_delta,
            cdf,
            None if files is None else set(files),
        )
        return version, n

    @staticmethod
    def _predicate_bounds(where: Column) -> dict:
        """NECESSARY per-column intervals implied by a predicate —
        ``{col: (lo, hi)}`` such that every row the predicate can
        match has ``col`` within [lo, hi] (None bound = unbounded).
        Derived by walking the Column's expression tree (the public
        ColumnNode shape, Spark 4 classic): comparisons of a bare
        attribute against a literal, IN over literals, and AND/OR
        composition.  CONSERVATIVE by construction — any unrecognized
        node shape contributes nothing under AND and kills the branch
        under OR/NOT, so the result is always an over-approximation
        of the matching rows (missing a necessary bound costs
        pruning, never correctness).  {} = nothing derivable.

        This is the analysis Delta performs on UPDATE/DELETE
        predicates for data skipping; here it feeds both the
        affected-file SEARCH and the declared read set for
        disjoint-writer admission (VERDICT r10 #5)."""
        import datetime as _dt

        def lit_val(n):
            v = n.value()
            if isinstance(v, (int, float, str)):
                return v
            if hasattr(v, "getClass"):  # java.sql.Date / Timestamp
                cls = v.getClass().getName()
                s = str(v.toString())
                if cls == "java.sql.Date":
                    return _dt.date.fromisoformat(s)
                if cls == "java.sql.Timestamp":
                    return _dt.datetime.fromisoformat(s)
            raise ValueError(f"unsupported literal {v!r}")

        def attr_of(n):
            if n.getClass().getSimpleName() != "UnresolvedAttribute":
                return None
            parts = n.nameParts()
            if parts.size() != 1:
                return None  # qualified/nested: ambiguous, bail
            return parts.apply(0)

        def merge_and(a: dict, b: dict) -> dict:
            out = dict(a)
            for c, (lo, hi) in b.items():
                plo, phi = out.get(c, (None, None))
                lo = plo if lo is None else (lo if plo is None else max(plo, lo))
                hi = phi if hi is None else (hi if phi is None else min(phi, hi))
                out[c] = (lo, hi)
            return out

        def merge_or(a: dict, b: dict) -> dict:
            out = {}
            for c in set(a) & set(b):  # only bounds BOTH branches imply
                alo, ahi = a[c]
                blo, bhi = b[c]
                lo = None if alo is None or blo is None else min(alo, blo)
                hi = None if ahi is None or bhi is None else max(ahi, bhi)
                if lo is not None or hi is not None:
                    out[c] = (lo, hi)
            return out

        def walk(n) -> dict:
            if n.getClass().getSimpleName() != "UnresolvedFunction":
                return {}
            fn = n.functionName()
            args = n.arguments()
            if fn == "and":
                return merge_and(walk(args.apply(0)), walk(args.apply(1)))
            if fn == "or":
                left = walk(args.apply(0))
                return merge_or(left, walk(args.apply(1))) if left else {}
            if fn in ("=", "==", "<", "<=", ">", ">="):
                a0, a1 = args.apply(0), args.apply(1)
                col, lit, flip = attr_of(a0), a1, False
                if col is None:  # literal-on-the-left form flips
                    col, lit, flip = attr_of(a1), a0, True
                if (
                    col is None
                    or lit.getClass().getSimpleName() != "Literal"
                ):
                    return {}
                v = lit_val(lit)
                op = fn
                if flip:
                    op = {"<": ">", "<=": ">=", ">": "<", ">=": "<="}.get(
                        op, op
                    )
                if op in ("=", "=="):
                    return {col: (v, v)}
                if op in ("<", "<="):
                    return {col: (None, v)}
                return {col: (v, None)}
            if fn == "in":
                col = attr_of(args.apply(0))
                if col is None:
                    return {}
                vals = []
                for i in range(1, args.size()):
                    a = args.apply(i)
                    if a.getClass().getSimpleName() != "Literal":
                        return {}
                    vals.append(lit_val(a))
                if not vals:
                    return {}
                return {col: (min(vals), max(vals))}
            return {}

        try:
            return walk(where._jc.node())
        except Exception:
            return {}  # analysis is an optimization, never a gate

    def _pruned_files(self, base: TxSnapshot, where: Column):
        """The read set of update/delete (r11, VERDICT r10 #5): when
        the predicate implies interval bounds on stats columns, the
        affected-file search opens only the admitted files AND the
        mutation declares that set as its read set — so
        ``UPDATE WHERE date = X`` on a date-clustered table composes
        with concurrent rewrites of other slices, exactly like
        ``update_range``.  Returns None (today's whole-table contract)
        when nothing is derivable."""
        bounds = self._predicate_bounds(where)
        if not bounds:
            return None
        cand = self._files_within(base, bounds)
        # nothing stats-prunable: the read set is the whole table
        # (same admission behavior as read_files=None)
        return sorted(cand) if cand is not None else list(base.files)

    def _files_within(
        self, base: TxSnapshot, bounds: dict
    ) -> "set[str] | None":
        """The files of ``base`` whose stats admit every ``{col: (lo,
        hi)}`` bound — the pruning core of ``_pruned_files`` (bounds
        from a Column predicate) and the ``format("txtable")`` reader's
        ``pushFilters`` (bounds from pushed filters).  Only stats
        columns prune; a bound ``_norm_bound`` cannot compare with the
        stored form (a Decimal, say) leaves its column unpruned.  None
        when no bound prunes."""
        cols = set(base.stats_cols or self.stats_cols or ())
        cand: "set[str] | None" = None
        for c, (lo, hi) in bounds.items():
            if c not in cols or (lo is None and hi is None):
                continue
            try:
                fs = set(self.files_in_range(c, lo, hi, snap=base))
            except TypeError:
                continue  # bound/stat representation mismatch
            cand = fs if cand is None else cand & fs
        return cand

    @staticmethod
    def _update_effect(where: Column, set_map: dict[str, Column]):
        """UPDATE's effect: matched rows take ``set_map``, the rest of
        each affected file is rewritten unchanged; the exact CDF pairs
        each matched row's preimage with its postimage."""

        def transform(df: DataFrame) -> DataFrame:
            for col_name, value in set_map.items():
                df = df.withColumn(
                    col_name, F.when(where, value).otherwise(F.col(col_name))
                )
            return df

        def effect(hit: DataFrame, n: int) -> _Effect:
            matched = hit.filter(where)
            post = transform(matched)
            return _Effect(
                rewrite=transform(hit),
                changed=post,
                cdf=matched.withColumn(
                    "_change_type", F.lit("update_preimage")
                ).unionByName(
                    post.withColumn("_change_type", F.lit("update_postimage"))
                ),
            )

        return effect

    @staticmethod
    def _delete_effect(where: Column):
        """DELETE's effect: each affected file keeps its rows whose
        predicate is not TRUE (SQL semantics: NULL survives); the exact
        CDF names the deleted rows."""
        return lambda hit, n: _Effect(
            rewrite=hit.filter(~where.eqNullSafe(F.lit(True))),
            cdf=hit.filter(where).withColumn("_change_type", F.lit("delete")),
        )

    def update(self, where: Column, set_map: dict[str, Column]) -> int:
        """``UPDATE <table> SET ... WHERE ...`` as file-granular
        copy-on-write: only files containing matching rows are
        rewritten; everything else carries over by reference.  A
        zero-match update still commits an empty-change version
        (Delta parity — see ``_mutate``).  r11: a predicate with
        derivable interval bounds on a stats column prunes the
        affected-file search via the manifest AND declares the pruned
        read set (disjoint-writer admission — see ``_pruned_files``);
        opaque predicates keep the whole-table-read contract.  Returns
        the number of rows updated."""
        base = self._head()
        self._refuse_generated_targets(set_map, "update", base)
        self._refuse_identity_set(set_map, "update", base)
        return self._mutate(
            base,
            "update",
            self._pruned_files(base, where),
            lambda d: d.filter(where),
            self._update_effect(where, set_map),
        )[1]

    def delete(self, where: Column) -> int:
        """``DELETE FROM <table> WHERE ...`` as file-granular
        copy-on-write: only files containing matching rows are
        rewritten (keeping their NON-matching rows) — at 100 TB a
        selective delete rewrites a handful of files, never the
        table.  SQL DELETE semantics: a NULL-predicate row is NOT
        deleted.  A zero-match delete still commits an empty-change
        version (Delta parity — see ``_mutate``).  r11:
        stats-derivable predicates prune the search and declare the
        read set, like ``update`` above.  Returns the number of rows
        deleted."""
        base = self._head()
        return self._mutate(
            base,
            "delete",
            self._pruned_files(base, where),
            lambda d: d.filter(where),
            self._delete_effect(where),
        )[1]

    @staticmethod
    def _range_pred(col: str, lo, hi) -> Column:
        if lo is None and hi is None:
            raise ValueError("range mutation needs at least one bound")
        pred = F.lit(True)
        if lo is not None:
            pred = F.col(col) >= F.lit(lo)
        if hi is not None:
            pred = pred & (F.col(col) <= F.lit(hi))
        return pred

    def delete_range(self, col: str, lo=None, hi=None) -> int:
        """``delete`` specialized to a key range (``lo <= col <= hi``,
        bounds optional) — the affected-file search opens ONLY files
        whose manifest [min, max] for ``col`` can intersect the range
        (``files_in_range``; ``replace_range``'s pruning, r10), so on
        a date-clustered 100 TB table deleting a day costs one slice.
        Because the read set is declared, two range deletes on
        DISJOINT file sets compose without caller retry
        (``_rebaseable_between``) — the concurrent-retention-job
        shape; the generic ``delete`` scans every file and stays
        conservative."""
        where = self._range_pred(col, lo, hi)
        base = self._head()
        return self._mutate(
            base,
            "delete",
            self.files_in_range(col, lo, hi, snap=base),
            lambda d: d.filter(where),
            self._delete_effect(where),
        )[1]

    def update_range(
        self, col: str, lo, hi, set_map: dict[str, Column]
    ) -> int:
        """``update`` specialized to a key range — stats-pruned
        affected-file search plus disjoint-writer admission, like
        ``delete_range``.  CHECK constraints gate the rewritten
        rows."""
        where = self._range_pred(col, lo, hi)
        base = self._head()
        self._refuse_generated_targets(set_map, "update_range", base)
        self._refuse_identity_set(set_map, "update_range", base)
        return self._mutate(
            base,
            "update",
            self.files_in_range(col, lo, hi, snap=base),
            lambda d: d.filter(where),
            self._update_effect(where, set_map),
        )[1]

    def _write_dv(self, dv_df: DataFrame) -> list[str]:
        """Materialize a (file, pos) frame as an immutable DV sidecar
        commit directory; returns its parquet part paths."""
        return self._write_dir(
            dv_df.select(
                F.col("file").cast("string").alias("file"),
                F.col("pos").cast("bigint").alias("pos"),
            ).write
        )

    def _write_cdf(self, changes: DataFrame, parts: int = 1) -> list[str]:
        """Materialize an exact per-commit changeset (``_change_type``
        'insert'|'delete' + the table's logical columns at commit time)
        as an immutable sidecar directory; returns its parquet paths.
        Cost ∝ changed rows, never the table — the whole point: a CoW
        merge's file diff re-emits every carried-along row of a
        rewritten file, the sidecar names only what actually changed
        (Delta CDF's _change_data directory, same idea).

        ``parts`` right-sizes the sidecar: callers pass the AFFECTED
        file count, so a 1-file trickle merge writes one sidecar file
        and a 1000-file backfill writes ~1000 in parallel (Delta's
        per-rewritten-file _change_data layout).  The plan's natural
        partitioning (shuffle width of the clause join) wrote 64 tiny
        files per commit — measured ~0.5 s of pure task/commit
        overhead per mutation at local scale, and 64 footer opens per
        feed step forever after."""
        return self._write_dir(changes.coalesce(max(1, parts)).write)

    def delete_dv(self, where: Column) -> int:
        """Merge-on-read DELETE (Delta deletion vectors): matching rows
        are recorded in a (file, row-position) sidecar and subtracted
        from every subsequent read — NO data file is rewritten.  At
        100 TB with scattered small mutations this is the difference
        between a few-KB sidecar write and rewriting a 1 GB file per
        touched row (copy-on-write amplification, VERDICT r8 #2); the
        read-side cost is one anti-join against the accumulated DV
        set, reclaimed by the next ``compact()``/rewrite of the file
        (which materializes the deletes and retires the vector).
        Per-file row-count stats become upper bounds once a file
        carries a DV; min/max stay sound (a DV only removes rows), so
        manifest pruning is unaffected.  Same SQL semantics as
        ``delete``: NULL-predicate rows survive, already-deleted rows
        don't double-count, a zero-match call commits an empty-change
        version.  Returns rows deleted."""
        return self._mutate(
            self._head(),
            "delete_dv",
            None,
            lambda d: d.filter(where),
            lambda hit, n: _Effect(dv=hit.filter(where)),
            meta=("fp", "pos"),
        )[1]

    def update_dv(self, where: Column, set_map: dict[str, Column]) -> int:
        """Merge-on-read UPDATE: matched rows are DV-deleted in place
        and their updated images APPEND as fresh files — the old data
        files are never rewritten (Delta's DV update path).  Cost ∝
        matched rows, not touched-file bytes: the CoW ``update`` of a
        single row in a 1 GB file rewrites the GB; this writes one
        sidecar plus one matched-rows-sized file.  CHECK constraints
        gate the updated images (an update can move rows INTO
        violation); a zero-match call commits an empty-change version
        BEFORE validation, like ``update``.  Returns rows updated."""
        base = self._head()
        self._refuse_generated_targets(set_map, "update_dv", base)
        self._refuse_identity_set(set_map, "update_dv", base)
        cols = [f["name"] for f in json.loads(base.schema_json)["fields"]]
        bad = sorted(set(set_map) - set(cols))
        if bad:
            raise ValueError(f"update_dv targets unknown columns {bad}")

        def effect(hit: DataFrame, n: int) -> _Effect:
            matched = updated = hit.filter(where)
            for col_name, value in set_map.items():
                updated = updated.withColumn(col_name, value)
            # a zero-match call lands nothing: its empty version commits
            # before validation
            return _Effect(insert=updated if n else None, dv=matched)

        return self._mutate(
            base,
            "update_dv",
            None,
            lambda d: d.filter(where),
            effect,
            meta=("fp", "pos"),
        )[1]

    def upsert(self, batch: DataFrame, key: str) -> int:
        """MERGE keyed by ``key``: batch rows replace existing rows
        with the same key, new keys append.  Only files containing a
        colliding key are rewritten.  Within-batch duplicate keys are
        collapsed (arbitrary winner) so the invariant 'one row per key
        per commit' holds.  Returns the committed version."""
        batch = batch.dropDuplicates([key])
        base = self.snapshot()
        self._refuse_identity_op(base, "upsert")
        batch = self._apply_generated(batch, self._gen_of(base), "upsert")
        self._check_columns(batch, base, "upsert")
        if base is None:
            new = self._write_data(batch)
            return self._commit(
                new,
                "upsert",
                None,
                schema_json=self._schema_of(batch),
                stats=self._merged_stats(None, [], self._stats_for(new)),
            )
        keys = F.broadcast(batch.select(key).distinct())

        def effect(hit: DataFrame, n: int) -> _Effect:
            # exact CDF (r10): replaced rows are the semi-join of the
            # affected files with the batch keys (update preimages);
            # batch rows split into update postimages (key existed)
            # and plain inserts.  A no-collision upsert lands only its
            # insert, so its added files are exactly the batch.
            b = batch.select(*hit.columns)
            replaced = hit.join(keys, key, "left_semi")
            rkeys = F.broadcast(replaced.select(key).distinct())
            return _Effect(
                rewrite=hit.join(keys, key, "left_anti"),
                insert=b,
                cdf=replaced.withColumn(
                    "_change_type", F.lit("update_preimage")
                )
                .unionByName(
                    b.join(rkeys, key, "left_semi").withColumn(
                        "_change_type", F.lit("update_postimage")
                    )
                )
                .unionByName(
                    b.join(rkeys, key, "left_anti").withColumn(
                        "_change_type", F.lit("insert")
                    )
                ),
            )

        return self._mutate(
            base,
            "upsert",
            self._candidate_files_for_keys(base, batch, [key]),
            lambda d: d.join(keys, key, "left_semi"),
            effect,
        )[0]

    @staticmethod
    def _conform_types(
        df: DataFrame, base: "TxSnapshot", passthrough: tuple = ()
    ) -> DataFrame:
        """Cast ``df``'s columns to the manifest schema's types where
        they differ — a write whose column TYPE drifts from the
        manifest (a merge update expression CaseWhen-coerced to
        string, a replace batch built with a narrower type) would
        otherwise land parquet files every later manifest-schema read
        chokes on (the table is poisoned until a restore).  Casts run
        under the session's ANSI mode, so a genuinely unconvertible
        value fails THIS write loudly instead of corrupting the
        table (r8 review)."""
        from pyspark.sql.types import StructType

        if base is None or base.schema_json is None:
            return df  # no manifest schema to conform to
        want = StructType.fromJson(json.loads(base.schema_json))
        have = {f.name: f.dataType for f in df.schema.fields}
        out = [
            F.col(f.name).cast(f.dataType).alias(f.name)
            if have.get(f.name) != f.dataType
            else F.col(f.name)
            for f in want.fields
        ]
        out += [F.col(c) for c in passthrough if c in df.columns]
        return df.select(*out)

    @staticmethod
    def _merge_cond(cond, default: bool) -> Column:
        """Normalize a user WHEN-clause condition: None -> the clause's
        default, string -> F.expr over the t/s-aliased join, and NULL
        evaluations count as FALSE (SQL WHEN-clause semantics)."""
        if cond is None:
            return F.lit(default)
        col = F.expr(cond) if isinstance(cond, str) else cond
        return F.coalesce(col, F.lit(False))

    def _evolve_for_merge(
        self, base: TxSnapshot, source_schema, new_cols: list[str]
    ):
        """An in-memory snapshot with ``new_cols`` appended (source
        types, nullable) — add_column's metadata semantics, batched
        into the merge commit instead of one commit per column.
        Mapping rules identical: identity tables stay identity unless
        a dropped name returns; otherwise fresh ids + safe physical
        names so old files can never resurrect retired values."""
        schema = self._current_schema(base)
        needs_map = base.colmap is not None or any(
            c in base.dropped for c in new_cols
        )
        cm = retired = max_id = None
        if needs_map:
            cm, retired, max_id = self._materialized_colmap(base)
            for c in new_cols:
                max_id += 1
                cm = cm + [
                    {
                        "id": max_id,
                        "name": c,
                        "phys": self._safe_phys(c, cm, retired, max_id),
                    }
                ]
        by_name = {f.name: f for f in source_schema.fields}
        for c in new_cols:
            schema = schema.add(c, by_name[c].dataType, True)
        return dataclasses.replace(
            base,
            schema_json=json.dumps(schema.jsonValue()),
            colmap=tuple(cm) if cm is not None else base.colmap,
            retired=tuple(retired) if retired is not None else base.retired,
            max_id=max_id if max_id is not None else base.max_id,
        )

    def merge(
        self,
        source: DataFrame,
        on: "str | list[str]",
        *,
        update: "dict | str | None" = "all",
        update_condition: "Column | str | None" = None,
        delete_condition: "Column | str | None" = None,
        insert: bool = True,
        insert_condition: "Column | str | None" = None,
        extra_source_cols: "list[str] | None" = None,
        txn: str | None = None,
        mode: str = "cow",
        schema_evolution: bool = False,
    ) -> dict:
        """``MERGE INTO`` with full Delta clause semantics, the general
        form of ``upsert``:

        - ``WHEN MATCHED [AND update_condition] THEN UPDATE`` —
          ``update="all"`` replaces the row with the source row;
          a dict maps target columns to expressions; ``None`` disables
          the clause.  Evaluated FIRST among matched clauses (document
          order, like Delta's clause list).
        - ``WHEN MATCHED [AND delete_condition] THEN DELETE`` — only
          rows the update clause did not claim.  ``None`` disables.
        - ``WHEN NOT MATCHED [AND insert_condition] THEN INSERT`` —
          ``insert=False`` disables.

        Conditions and dict values are Columns or SQL strings resolved
        over the joined frame with the TARGET aliased ``t`` and the
        SOURCE aliased ``s`` (e.g. ``"s.price > t.price"``); a NULL
        condition evaluation counts as FALSE.  Matching is equality on
        ``on`` (NULL keys never match — NULL-keyed source rows insert,
        Delta parity), and a target row matched by MORE than one
        source row raises loudly when any matched clause is active
        (Delta's ambiguous-merge error; unmatched duplicate source
        rows all insert).  ``extra_source_cols`` names source columns
        that exist ONLY for clause conditions (e.g. a CDC op flag
        ``s._op = 'delete'``) — usable in every condition and update
        expression, never written to the table.

        Scale shape: only files containing a source key are rewritten
        (semi-join on broadcast batch keys, the upsert scaffold), the
        full-outer clause resolution runs over affected-files ∪ batch,
        and when no matched clause fires the affected files are
        carried BY REFERENCE and only inserts are written — cost ∝
        the batch and the slice it touches, never the table.  With
        ``txn`` the merge is exactly-once under replay (checked BEFORE
        validation, like append).  A merge that changes nothing still
        commits an empty-change version (Delta parity, predictable
        ``restore``/``history`` arithmetic).  A lost race against
        pure-append commits auto-resolves (r9, ``_commit_vs_appends``);
        any other conflict raises — the survivor list derives from the
        snapshot, so callers re-invoke (the txn tag makes that safe).

        ``schema_evolution=True`` (r9, Delta withSchemaEvolution):
        source columns missing from the table are ADDED to the schema
        in the merge commit itself — existing files read NULL in them
        (the add_column metadata mechanism, including the fresh-
        physical-name fence when a dropped name is re-added), updated
        and inserted rows carry the source values.  Off by default:
        an unexpected source column is usually a bug, and Delta makes
        the same choice.

        ``mode="dv"`` (r9) makes the matched clauses MERGE-ON-READ:
        instead of rewriting every affected file, fired
        update/delete targets are deletion-vectored in place and the
        updated images append with the inserts — cost ∝ fired rows,
        never touched-file bytes (the Delta DV merge path; a CDC
        trickle against wide files is the canonical use).  Same
        clause semantics, counts, txn replay, constraint gating and
        empty-change behavior; reclaim read-side anti-join cost with
        ``compact()``.

        Returns ``{"updated", "deleted", "inserted", "version"}``.

        Parity note: the reference's load path has no client-side
        merge — upserts were delegated to the warehouse
        (big_uery_handler.py WRITE_TRUNCATE/WRITE_APPEND targets);
        TxTable expresses the full MERGE clause matrix on plain
        parquet."""
        keys = [on] if isinstance(on, str) else list(on)
        base = self.snapshot()
        if base is None:
            raise FileNotFoundError(f"no committed version under {self.root}")
        self._refuse_identity_op(base, "merge")
        if txn is not None and txn in self._committed_txns():
            return {
                "updated": 0,
                "deleted": 0,
                "inserted": 0,
                "version": base.version,
            }
        extra = list(extra_source_cols or [])
        cols = [f["name"] for f in json.loads(base.schema_json)["fields"]]
        # clash check BEFORE _check_columns: an extra name that is also
        # a table column must raise the intended ValueError, not a
        # confusing missing-columns mismatch from the drop (ADVICE r8)
        clash = sorted(set(extra) & set(cols))
        if clash:
            raise ValueError(
                f"extra_source_cols collide with table columns: {clash}"
            )
        if schema_evolution:
            new_cols = [
                c
                for c in source.columns
                if c not in set(cols) and c not in set(extra)
            ]
            if new_cols:
                # evolve the snapshot IN MEMORY; the merge commit
                # carries the extended schema (+ colmap entries when
                # mapping is in force or a dropped name returns)
                base = self._evolve_for_merge(base, source.schema, new_cols)
                cols = [
                    f["name"]
                    for f in json.loads(base.schema_json)["fields"]
                ]
        if extra:
            missing = sorted(set(extra) - set(source.columns))
            if missing:
                raise ValueError(
                    f"extra_source_cols not in source: {missing}"
                )
            self._check_columns(source.drop(*extra), base, "merge")
        else:
            self._check_columns(source, base, "merge")
        if isinstance(update, dict):
            bad = sorted(set(update) - set(cols))
            if bad:
                raise ValueError(f"merge update targets unknown columns {bad}")
        if mode not in ("cow", "dv"):
            raise ValueError(f"merge mode must be 'cow' or 'dv', got {mode!r}")
        # four consumers before the clause join materializes (key-bound
        # agg, broadcast distinct keys, ambiguity flag, the s side of
        # the full outer) — a source derived from the table itself
        # would re-run its whole lineage per job (CLAUDE.md trap).
        # No eager count (r15): the consumers run SEQUENTIALLY, so the
        # first job (the candidate-bounds agg below) materializes the
        # cache; the explicit count was one extra pass over the source.
        src = source.select(*cols, *extra).persist()
        has_matched_clause = update is not None or delete_condition is not None
        bkeys = F.broadcast(src.select(*keys).distinct())
        taken = set(cols) | set(extra)

        def fresh(name: str) -> str:  # a user column may be shaped like ours
            while name in taken:
                name = "_" + name
            return name

        tm, sm = fresh("_t_marker"), fresh("_s_marker")
        joins: list[DataFrame] = []  # the persisted clause join
        counts: dict = {}  # the clause counts the effect finds

        def effect(hit: DataFrame, n: int) -> _Effect:
            t = hit.withColumn(tm, F.lit(True)).alias("t")
            s = src.withColumn(sm, F.lit(True)).alias("s")
            join_cond = None
            for k in keys:
                c = F.col(f"t.{k}") == F.col(f"s.{k}")
                join_cond = c if join_cond is None else (join_cond & c)
            matched = (
                F.col(f"t.{tm}").isNotNull()
                & F.col(f"s.{sm}").isNotNull()
            )
            src_only = F.col(f"t.{tm}").isNull()
            do_update = (
                matched
                & F.lit(update is not None)
                & self._merge_cond(update_condition, True)
            )
            do_delete = (
                matched
                & ~do_update
                & F.lit(delete_condition is not None)
                & self._merge_cond(delete_condition, False)
            )
            do_insert = (
                src_only
                & F.lit(bool(insert))
                & self._merge_cond(insert_condition, True)
            )
            if update == "all" or update is None:
                upd_exprs = {c: F.col(f"s.{c}") for c in cols}
            else:
                upd_exprs = {
                    k: (F.expr(v) if isinstance(v, str) else v)
                    for k, v in update.items()
                }
            out_cols = [
                F.when(do_insert, F.col(f"s.{c}"))
                .when(do_update, upd_exprs.get(c, F.col(f"t.{c}")))
                .otherwise(F.col(f"t.{c}"))
                .alias(c)
                for c in cols
            ]
            keep = (matched & ~do_delete) | (~src_only & ~matched) | do_insert
            j = t.join(s, join_cond, "full_outer").persist()
            joins.append(j)
            clause_counts = [
                F.count(F.when(do_update, 1)),
                F.count(F.when(do_delete, 1)),
                F.count(F.when(do_insert, 1)),
            ]
            if n and has_matched_clause:
                # Delta's ambiguous-merge guard (>1 source rows hitting
                # one target row has no deterministic outcome), folded
                # into the SAME aggregate job as the clause counts
                # (r15 — it was a separate scan of the affected files):
                # a batch-sized dup-key flag broadcast-joins onto the
                # persisted clause join; any matched row carrying the
                # flag is ambiguous.  The probe join exists only under
                # this agg — the result/CDF frames still read the bare
                # persisted join.
                dup_col = fresh("_dup_src")
                dks = [fresh(f"_dk{i}") for i in range(len(keys))]
                dupflag = F.broadcast(
                    src.groupBy(*keys)
                    .agg((F.count(F.lit(1)) > F.lit(1)).alias(dup_col))
                    .select(
                        *[
                            F.col(k).alias(dk)
                            for k, dk in zip(keys, dks)
                        ],
                        dup_col,
                    )
                )
                dcond = None
                for k, dk in zip(keys, dks):
                    c = F.col(f"s.{k}") == F.col(dk)
                    dcond = c if dcond is None else (dcond & c)
                n_upd, n_del, n_ins, n_amb = (
                    j.join(dupflag, dcond, "left")
                    .agg(
                        *clause_counts,
                        F.count(
                            F.when(matched & F.col(dup_col), 1)
                        ),
                    )
                    .first()
                )
                if n_amb:
                    raise ValueError(
                        f"merge: {n_amb} matched pair(s) involve a "
                        "target row matched by multiple source rows; "
                        f"deduplicate the source on {keys} first "
                        "(Delta raises here too)"
                    )
            else:
                n_upd, n_del, n_ins = j.agg(*clause_counts).first()
            counts.update(updated=n_upd, deleted=n_del, inserted=n_ins)
            fired = j.filter(do_update | do_delete)
            post = j.filter(do_update | do_insert).select(*out_cols)
            if n_upd + n_del and mode == "dv":
                # merge-on-read: only fired rows materialize — updated
                # images + inserts append, fired targets DV out
                return _Effect(
                    insert=post,
                    dv=fired.select(
                        F.col("t._fp").alias("_fp"),
                        F.col("t._pos").alias("_pos"),
                    ),
                    op="merge_dv",
                )
            if n_upd + n_del:
                # exact CDF (r10): the joined frame knows exactly which
                # rows fired — preimages of updates/deletes, postimages
                # of updates + inserts; read_changes then skips the
                # file diff (which would re-emit every carried-along
                # row of the rewritten files)
                return _Effect(
                    rewrite=j.filter(keep).select(*out_cols),
                    changed=post,
                    cdf=fired.select(
                        *[F.col(f"t.{c}").alias(c) for c in cols],
                        F.when(do_update, F.lit("update_preimage"))
                        .otherwise(F.lit("delete"))
                        .alias("_change_type"),
                    ).unionByName(
                        j.filter(do_update | do_insert).select(
                            *out_cols,
                            F.when(do_update, F.lit("update_postimage"))
                            .otherwise(F.lit("insert"))
                            .alias("_change_type"),
                        )
                    ),
                )
            # matched clauses fired nowhere: the affected files carry BY
            # REFERENCE and only the inserts land — their added files
            # are exactly the inserts, so no sidecar either
            return _Effect(
                insert=(
                    j.filter(do_insert).select(*out_cols) if n_ins else None
                ),
            )

        try:
            version, _ = self._mutate(
                base,
                "merge",
                self._candidate_files_for_keys(base, src, keys),
                lambda d: d.join(bkeys, keys, "left_semi"),
                effect,
                # dv mode carries row identity through the clause join
                # so fired targets can be deletion-vectored
                meta=("fp", "pos") if mode == "dv" else (),
                txn=txn,
            )
        finally:
            for j in joins:
                j.unpersist()
            src.unpersist()
        return {**counts, "version": version}

    def replace_where(
        self,
        df: DataFrame,
        where: "Column | str",
        txn: str | None = None,
    ) -> dict:
        """Delta ``replaceWhere`` — dynamic slice overwrite: atomically
        delete every row matching ``where`` and insert ``df``, in ONE
        commit.  The canonical 100 TB pattern for recomputing a
        partition (a day, a region) without touching the rest of the
        table: only files containing matching rows are rewritten (their
        non-matching rows are kept), everything else carries by
        reference, so cost ∝ the replaced slice, never the table.

        Delta parity: every incoming row must satisfy ``where`` (a row
        outside the slice would silently widen the overwrite) — rows
        where the predicate is not TRUE raise ValueError and commit
        NOTHING.  Target rows with a NULL predicate are KEPT (SQL
        DELETE semantics).  With ``txn`` the replace is exactly-once
        under replay (checked before validation).  A lost race against
        pure-append commits auto-resolves (r9); any other conflict
        raises — the survivor list derives from the snapshot; callers
        re-invoke (safe under the txn tag).

        Returns ``{"deleted", "inserted", "version"}``."""
        base = self._head()
        pred = F.expr(where) if isinstance(where, str) else where
        return self._replace(base, df, pred, list(base.files), txn)

    def replace_range(
        self,
        df: DataFrame,
        col: str,
        lo=None,
        hi=None,
        txn: str | None = None,
    ) -> dict:
        """``replace_where`` specialized to a key range (``lo <= col
        <= hi``, bounds optional like ``read_range``) — the common
        form: recompute a day/month of a time-keyed table.  The
        affected-file search opens ONLY the files whose manifest
        [min, max] for ``col`` intersects the range (manifest-level
        skipping, no footer opens outside the slice), so on a
        date-clustered 100 TB table the whole operation — search,
        rewrite, commit — costs one slice, not one table.  The generic
        ``replace_where`` must scan every file's ``col`` column to
        locate matches (predicate pushdown makes that cheap, but it is
        still O(files)); use this form whenever the slice is a range
        on a ``stats_cols`` column."""
        pred = self._range_pred(col, lo, hi)
        base = self._head()
        return self._replace(
            base, df, pred, self.files_in_range(col, lo, hi, snap=base), txn
        )

    def _replace(
        self,
        base: TxSnapshot,
        df: DataFrame,
        pred: Column,
        files: list[str],
        txn: str | None,
    ) -> dict:
        """The replace_where/replace_range guards and effect over the
        search set ``files``: the slice's rows delete (a NULL
        predicate keeps the row), ``df`` inserts."""
        self._refuse_identity_op(base, "replace_where")
        if txn is not None and txn in self._committed_txns():
            return {"deleted": 0, "inserted": 0, "version": base.version}
        df = self._apply_generated(df, self._gen_of(base), "replace_where")
        self._check_columns(df, base, "replace_where")
        df = self._conform_types(df, base)
        n_ins, n_outside = df.agg(
            F.count(F.lit(1)),
            F.count(F.when(~F.coalesce(pred, F.lit(False)), 1)),
        ).first()
        if n_outside:
            raise ValueError(
                f"replace_where: {n_outside} incoming row(s) do not "
                "satisfy the predicate; Delta rejects these too "
                "(they would silently widen the overwrite)"
            )
        # exact CDF (r10): the replaced slice's rows tag 'delete', the
        # incoming frame tags 'insert' — the rewritten files' kept rows
        # never re-emit.  A no-overlap replace lands only its insert,
        # so its added files are exactly df.
        version, n_del = self._mutate(
            base,
            "replace_where",
            files,
            lambda d: d.filter(pred),
            lambda hit, n: _Effect(
                rewrite=hit.filter(~pred.eqNullSafe(F.lit(True))),
                insert=df if n_ins else None,
                cdf=hit.filter(pred)
                .withColumn("_change_type", F.lit("delete"))
                .unionByName(df.withColumn("_change_type", F.lit("insert"))),
            ),
            txn=txn,
        )
        return {"deleted": n_del, "inserted": n_ins, "version": version}

    def _zorder_key(self, df: DataFrame, cols: list[str], bits: int = 6):
        """Morton (interleaved-bit) key over quantile-binned numeric
        columns — Delta OPTIMIZE ZORDER's multi-dimensional curve.
        Each column is first binned by its own approx quantiles
        (skew-resistant: uniform BIN occupancy whatever the value
        distribution), then bit ``i`` of every column's bin index is
        interleaved into position ``i*len(cols)+ci`` of the key, so
        files sorted by the key own small hyper-rectangles of the key
        SPACE and min/max stats prune on EVERY clustered column, not
        just the leading one.

        Boundaries come from one approxQuantile pass (driver-side
        (2**bits-1) doubles per column — metadata-sized) and are
        compiled into a BALANCED ``when`` tree: ``bits`` comparisons
        per row along one root-to-leaf path, not a linear scan of all
        2**bits-1 boundaries (a fold over the boundary array measured
        ~30x slower at bits=8 — the array fold evaluates every
        element).  Numeric, date and timestamp columns (temporal
        columns bin on their epoch number — days for DATE, seconds
        for TIMESTAMP/_NTZ; a date cluster key is the overwhelmingly
        common case).  Default 6 bits = 64 quantile bins per column:
        granularity comfortably above any realistic output-file count
        per dimension, while the boundary summaries (approxQuantile
        error scales with bin count) and the compiled search trees
        stay cheap — bits=8 measured 4-5x slower for no extra
        pruning at these file counts."""

        def as_num(c) -> Column:
            # numeric view of a clusterable column (temporal -> epoch;
            # TIMESTAMP_NTZ has no direct long cast: hop via timestamp,
            # identity under the UTC session)
            t = df.schema[c].dataType.simpleString()
            col = F.col(c)
            if t == "date":
                return F.datediff(col, F.lit("1970-01-01").cast("date"))
            if t.startswith("timestamp"):  # timestamp / timestamp_ntz
                return col.cast("timestamp").cast("long")
            return col.cast("double")

        def search(num, bounds, lo, hi):
            # expression for |{b in bounds[lo:hi) : x >= b}| + lo,
            # i.e. the bin index, via binary search
            if lo == hi:
                return F.lit(lo)
            mid = (lo + hi) // 2
            return F.when(
                num >= bounds[mid],
                search(num, bounds, mid + 1, hi),
            ).otherwise(search(num, bounds, lo, mid))

        n_bins = 1 << bits
        probs = [i / n_bins for i in range(1, n_bins)]
        # ONE pass for every column's boundaries (per-column calls
        # re-scan the table each time: 2x wall at 2 columns); quantiles
        # run over the numeric views so temporal columns work too
        qcols = [f"_zq{ci}" for ci in range(len(cols))]
        num_exprs = {c: as_num(c).cast("double") for c in cols}
        qdf = df.select(
            *[num_exprs[c].alias(q) for c, q in zip(cols, qcols)]
        )
        all_bounds = qdf.approxQuantile(qcols, probs, 1.0 / (4 * n_bins))
        key = F.lit(0).cast("long")
        for ci, c in enumerate(cols):
            bounds = all_bounds[ci]
            bin_ = search(num_exprs[c], bounds, 0, len(bounds)).cast("long")
            for i in range(bits):
                key = key + F.shiftleft(
                    F.shiftright(bin_, i).bitwiseAND(F.lit(1)),
                    i * len(cols) + ci,
                )
        return key

    # ------------------------------------------------ partition spec

    @staticmethod
    def _path_partition_values(path: str, cols: list) -> "dict | None":
        """Parse the ``__txp_<col>=<value>`` path segments the
        partitioned writer embeds.  Values come back as the STRINGS
        Spark wrote (ints/dates serialize canonically; %-escapes are
        unquoted); None for the Hive null marker.  Returns None when
        any segment is absent (not a partitioned-layout file)."""
        from urllib.parse import unquote

        segs = path.split(os.sep)
        out = {}
        for c in cols:
            pref = f"__txp_{c}="
            seg = next((s for s in segs if s.startswith(pref)), None)
            if seg is None:
                return None
            raw = unquote(seg[len(pref):])
            out[c] = None if raw == "__HIVE_DEFAULT_PARTITION__" else raw
        return out

    def _partition_filter(
        self, partition: dict, base: "TxSnapshot | None" = None
    ) -> dict:
        """Validate a ``{col: value}`` maintenance scope against the
        table's spec.  Values match by their canonical string form
        (what Spark wrote into the path): str/int/date round-trip
        exactly; None selects the null partition."""
        spec = self._partition_spec(base)
        if not spec:
            raise ValueError(
                f"table {self.root} has no partition spec; "
                "create(partition_by=...) declares one"
            )
        bad = sorted(set(partition) - set(spec))
        if bad:
            raise ValueError(
                f"unknown partition column(s) {bad}; spec is {spec}"
            )
        return dict(partition)

    def _file_in_partition(self, path: str, partition: dict) -> bool:
        vals = self._path_partition_values(path, list(partition))
        if vals is None:
            return False
        for c, want in partition.items():
            got = vals[c]
            if want is None:
                if got is not None:
                    return False
            elif got is None or str(want) != got:
                return False
        return True

    def partitions(self) -> list[dict]:
        """Distinct partition value tuples of the head snapshot with
        file/row counts — METADATA-only (parsed from file paths +
        manifest stats, no data scan), the operational listing that
        scopes maintenance windows (``compact(partition=...)``,
        ``vacuum(partition=...)``).  Values are the canonical strings
        the writer embedded in paths."""
        base = self._head()
        spec = self._partition_spec(base)
        if not spec:
            raise ValueError(f"table {self.root} has no partition spec")
        agg: dict = {}
        for f in base.files:
            vals = self._path_partition_values(f, spec)
            key = (
                tuple(sorted(vals.items())) if vals is not None else None
            )
            e = agg.setdefault(key, {"n_files": 0, "n_rows": 0})
            e["n_files"] += 1
            st = (base.stats or {}).get(f)
            if e["n_rows"] is not None and st and st.get("rows") is not None:
                e["n_rows"] += st["rows"]
            else:
                e["n_rows"] = None  # unknown for any file -> unknown
        out = []

        def _order(k):  # None (unknown layout) last; null values last
            if k is None:
                return (1, [])
            return (0, [(c, v is None, v or "") for c, v in k])

        for key in sorted(agg, key=_order):
            vals = dict(key) if key is not None else {c: None for c in spec}
            out.append({**{c: vals.get(c) for c in spec}, **agg[key]})
        return out

    def maintain(self, policy: dict) -> dict:
        """Policy-driven maintenance in ONE call (r13, VERDICT r12
        #4): "compact partitions whose small-file count exceeds N"
        as a scheduled job instead of hand-rolled loops.  The
        qualification pass is METADATA-only — partitions, file
        counts and per-file sizes come from the head manifest and
        path parsing, never a data scan — so deciding costs O(files
        in the manifest) and the work done is ∝ the qualifying
        fragmentation, the same scaling contract as each underlying
        op.  Policy keys (each optional, applied in this order —
        compaction first so purge/vacuum can reclaim what it
        strands):

        - ``compact``: ``{"min_files": N, **compact_kwargs}`` —
          compact every partition holding >= N files (whole table
          when unpartitioned).  Partition scoping reuses
          ``compact(partition=...)``; other keys pass through
          (``target_bytes``, ``cluster_by``, ...).
        - ``purge_dvs``: kwargs for ``purge_dvs`` (rewrite files
          whose deleted fraction crossed the threshold).
        - ``vacuum``: kwargs for ``vacuum`` (GC unreferenced files
          past the retention horizon).

        Returns a report: ``{"compacted": [partition dicts],
        "purged": version|None, "vacuumed": [paths]}``."""
        known = {"compact", "purge_dvs", "vacuum"}
        bad = sorted(set(policy) - known)
        if bad:
            raise ValueError(
                f"unknown maintain policy key(s) {bad}; known: "
                f"{sorted(known)}"
            )
        report: dict = {"compacted": [], "purged": None, "vacuumed": []}
        cpol = dict(policy.get("compact") or {})
        if cpol:
            min_files = int(cpol.pop("min_files", 2))
            base = self._head()
            spec = self._partition_spec(base)
            if spec:
                counts: dict = {}
                for f in base.files:
                    vals = self._path_partition_values(f, spec)
                    key = (
                        tuple(vals[c] for c in spec)
                        if vals is not None
                        else None
                    )
                    counts[key] = counts.get(key, 0) + 1
                for key in sorted(
                    (k for k in counts if k is not None),
                    key=lambda k: [(v is None, v or "") for v in k],
                ):
                    if counts[key] >= min_files:
                        part = dict(zip(spec, key))
                        self.compact(partition=part, **cpol)
                        report["compacted"].append(part)
            elif len(base.files) >= min_files:
                self.compact(**cpol)
                report["compacted"].append({})
        if "purge_dvs" in policy:
            before = self._head().version
            v = self.purge_dvs(**(policy["purge_dvs"] or {}))
            report["purged"] = v if v != before else None
        if "vacuum" in policy:
            report["vacuumed"] = list(
                self.vacuum(**(policy["vacuum"] or {}))
            )
        return report

    def compact(
        self,
        target_bytes: int = 128 << 20,
        small_frac: float = 0.5,
        cluster_by: list[str] | None = None,
        zorder: bool = False,
        partition: dict | None = None,
    ) -> int:
        """OPTIMIZE: coalesce small files into ~``target_bytes``
        outputs (the small-file problem every streaming-append table
        develops — per-trigger commits at 100 TB mean millions of tiny
        parquet files, and scan task count tracks file count).  Files
        already >= ``small_frac * target_bytes`` carry over by
        reference; only the small tail is read and rewritten, so the
        cost is proportional to the fragmentation, not the table.
        Content-neutral: same rows before and after (a lost commit
        race is safe to retry).  Returns the committed version.

        ``cluster_by``: Delta OPTIMIZE ZORDER's one-dimensional
        sibling — range-repartition + sort the rewritten rows on the
        given columns, so each output file owns a narrow, disjoint
        key range.  Because manifests record per-file min/max for
        ``stats_cols``, clustering is what turns those stats into
        actual pruning: ``read_range`` on a clustered key opens ~1
        file instead of all of them (append order scatters every key
        range across every file).  Clustering rewrites ALL data files
        (a sort is global), so run it on the cadence of range-query
        value, not every commit.

        ``zorder=True`` (with >=2 numeric ``cluster_by`` columns)
        clusters on the Morton curve of the columns instead of their
        lexicographic order: lexicographic clustering prunes only the
        LEADING column (every file spans the full range of the
        second), the z-curve gives every clustered column partial
        pruning — the right trade when range queries hit more than
        one key (see ``_zorder_key``).

        File sizes come from a driver-side stat of the manifest's file
        list — metadata-sized, like the manifest itself; a real log
        store records sizes in the manifest and skips the stat.

        Content-neutral, so a lost manifest race retries the whole
        rewrite against the fresh snapshot (orphaned data files from
        the lost attempt are vacuum's job, same as any dead version).

        ``partition`` (r12): scope the rewrite to one partition of a
        partitioned table (``{col: value}``, a subset of the spec
        columns) — files outside it carry by reference untouched, so
        maintenance runs per partition window as PLANS.md's z-order
        row prescribes, instead of whole-table.  Composes with
        ``cluster_by`` (clustering WITHIN the partition).
        """
        for attempt in range(3):
            try:
                return self._compact_once(
                    target_bytes, small_frac, cluster_by, zorder, partition
                )
            except TxConflictError:
                if attempt == 2:
                    raise

    def _compact_once(
        self,
        target_bytes: int,
        small_frac: float,
        cluster_by: list[str] | None,
        zorder: bool = False,
        partition: dict | None = None,
    ) -> int:
        base = self.snapshot()
        if base is None:
            raise FileNotFoundError(f"no committed version under {self.root}")
        if not base.files:
            # trivial-table guard (ADVICE r4): nothing to rewrite
            return base.version
        cm = self._colmap_or_none(base)
        scope = list(base.files)
        out_of_scope: list[str] = []
        if partition is not None:
            pf = self._partition_filter(partition, base)
            scope = [f for f in base.files if self._file_in_partition(f, pf)]
            out_of_scope = [f for f in base.files if f not in set(scope)]
            if not scope:
                return base.version  # empty partition: nothing to do
        if cluster_by:
            total = sum(os.path.getsize(f) for f in scope)
            n_out = max(1, -(-total // target_bytes))  # ceil
            full = self._scan(base, scope)
            if zorder and len(cluster_by) >= 2:
                keyed = full.withColumn(
                    "_zk", self._zorder_key(full, cluster_by)
                )
                packed = (
                    keyed.repartitionByRange(n_out, "_zk")
                    .sortWithinPartitions("_zk")
                    .drop("_zk")
                )
            else:
                packed = full.repartitionByRange(
                    n_out, *cluster_by
                ).sortWithinPartitions(*cluster_by)
            survivors: list[str] = out_of_scope
            small = scope
        else:
            small = [
                f
                for f in scope
                if os.path.getsize(f) < target_bytes * small_frac
            ]
            if len(small) < 2:
                return base.version  # nothing to coalesce
            total = sum(os.path.getsize(f) for f in small)
            n_out = max(1, -(-total // target_bytes))  # ceil
            packed = self._scan(base, small)
            spec = self._partition_spec(base)
            if spec is None or (
                partition is not None and set(partition) == set(spec)
            ):
                # unpartitioned, or scoped to ONE fully-named
                # partition (single value): free repartition keeps the
                # target output sizing
                packed = packed.repartition(n_out)
            else:
                # partitioned but spanning values: repartition ON the
                # spec so the partitionBy writer emits ~one file per
                # value instead of n_out x values
                packed = packed.repartition(
                    n_out, *[F.col(c) for c in spec]
                )
            survivors = [f for f in base.files if f not in set(small)]
        # arrange=False: compact already shaped the frame (cluster
        # order / output sizing); the writer's partitionBy alone
        # enforces file-per-value on partitioned tables
        new = self._write_data(packed, cm, arrange=False, base=base)
        return self._commit(
            survivors + new,
            "compact",
            base,
            schema_json=base.schema_json,
            stats=self._merged_stats(
                base, survivors, self._stats_for(new, cm)
            ),
        )

    def purge_dvs(self, min_deleted_frac: float = 0.05) -> int:
        """``REORG TABLE ... APPLY (PURGE)`` (Delta parity): rewrite
        ONLY the files whose deletion-vector fraction reaches
        ``min_deleted_frac``, materializing their deletes and retiring
        their vectors — the incremental reclaim of the DV read-side
        anti-join.  Cost ∝ dirty files, never the table: clean files
        and lightly-vectored files carry by reference untouched
        (contrast ``compact``, which targets file SIZE).  Dead-row
        counts come from one scan of the sidecars (metadata-sized:
        deleted rows only); per-file totals from manifest stats when
        present, else a driver footer read.  Returns the committed
        version (unchanged when nothing crosses the threshold —
        maintenance no-op, like compact)."""
        base = self._head()
        dvs = self._dvs_of(base)
        if not dvs:
            return base.version
        paths = sorted({p for v in dvs.values() for p in v})
        dead = {
            txlog.manifest_path(r.file): r.dead
            for r in self.spark.read.schema(_DV_SCHEMA)
            .parquet(*paths)
            .groupBy("file")
            .agg(F.count_distinct("pos").alias("dead"))
            .collect()
        }

        def total_rows(f: str) -> int:
            st = (base.stats or {}).get(f)
            if st and st.get("rows"):
                return st["rows"]
            import pyarrow.parquet as pq

            return pq.ParquetFile(f).metadata.num_rows

        affected = sorted(
            f
            for f in dvs
            if f in dead
            and total_rows(f) > 0
            and dead[f] / total_rows(f) >= min_deleted_frac
        )
        if not affected:
            return base.version
        from ..session import raised_conf

        # one output per purged file, so a clustered layout keeps its
        # per-file key ranges: an open cost above any split size stops
        # the scan from packing small files into one task.  Holds on
        # unpartitioned tables whose DV set broadcasts (a shuffled DV
        # join and the partitioned write's hash arrange both regroup
        # rows).  purge reads only the files it rewrites — a racer
        # touching OTHER files rebases cleanly (disjoint-rewrite
        # admission)
        with raised_conf(
            self.spark, "spark.sql.files.openCostInBytes", str(1 << 40)
        ):
            return self._mutate(
                base,
                "purge",
                affected,
                None,
                lambda hit, n: _Effect(rewrite=hit),
            )[0]

    # ------------------------------------------------------- cleanup

    def repartitioned_to(
        self, dest: str, partition_by: list[str] | None
    ) -> "TxTable":
        """Partition-spec CHANGE path — the r13 decision (VERDICT r12
        #7): the spec stays IMMUTABLE on a live table, Delta parity.
        Iceberg-style spec versioning (per-file spec ids, pruning
        consulting every historical spec) was considered and
        declined: this engine's partition pruning IS stats pruning,
        so a spec change without a rewrite buys nothing — old files
        keep their old stats tags and prune exactly as well as before,
        and the ONLY thing a new spec changes is the layout of future
        files, which is better served by an explicit rewrite whose
        cost (∝ table) is stated up front rather than hidden behind a
        metadata call.

        So: one head read, one write under the NEW spec into a fresh
        root.  Carries the schema, stats policy (old spec columns
        stay stats-tagged — their pruning value survives the change),
        CHECK constraints and generation expressions; DVs are
        materialized by the rewrite.  Refuses identity tables
        (GENERATED ALWAYS ids cannot be re-provided to a fresh
        create; ``clone_to`` keeps the spec AND the watermark for
        those) and an already-existing destination.  The source is
        untouched — swap roots at the catalog layer when ready.

        ``partition_by=None`` removes the spec (repartition to an
        unpartitioned layout)."""
        base = self._head()
        if base.identity:
            raise ValueError(
                f"repartitioned_to cannot rebuild identity column "
                f"{base.identity['col']!r} (GENERATED ALWAYS); use "
                "clone_to (keeps spec + watermark)"
            )
        if self.is_table(dest):
            raise ValueError(
                f"repartition target {dest} is already a TxTable; "
                "choose a fresh root"
            )
        stats = list(
            dict.fromkeys(
                list(base.stats_cols or self.stats_cols or [])
                + list(partition_by or [])
            )
        )
        out = TxTable.create(
            self.spark,
            dest,
            self.read(),
            stats_cols=stats or None,
            generated=dict(base.generated) if base.generated else None,
            partition_by=list(partition_by) if partition_by else None,
        )
        for name, expr in (base.constraints or {}).items():
            out.add_constraint(name, expr)
        return out

    def clone_to(self, new_root: str) -> "TxTable":
        """SHALLOW CLONE (Delta parity): a new, independently-evolving
        table whose v1 manifest references the SOURCE's current data
        files BY PATH — metadata-sized at any table scale (one
        manifest write, zero data copied).  The clone carries the
        source head's schema, per-file stats, column mapping (+
        retired physical names, so a re-add in the clone can never
        alias an old source file's column), CHECK constraints and
        stats policy; its version history starts fresh at v1.  Writes
        to the clone copy-on-write into the CLONE's own data
        directory — the source is never touched — and the clone's
        ``vacuum`` only walks the clone's data dir, so it cannot GC
        source files.  The shared-fate hazard in the other direction
        (source ``vacuum`` GC-ing files the clone still references —
        silent data loss in Delta) is GUARDED here (r9): every clone
        drops a marker under the source's log dir, and the source's
        ``vacuum`` refuses to delete a file a live clone references
        unless forced — ``compact()`` the clone to re-materialize it
        onto its own files first.  Typical uses: zero-cost dev/test
        copies of a production table and short-lived experiment
        branches.

        Refuses a ``new_root`` that is already a table (cloning over
        history would orphan it silently)."""
        base = self._head()
        if self.is_table(new_root):
            raise ValueError(
                f"clone target {new_root} is already a TxTable; "
                "choose a fresh root"
            )
        # the COMMITTED policy (base.stats_cols) wins: a stats-opt-out
        # handle (stats_cols=[]) must still carry the table property
        # into the clone's first manifest (ADVICE r8).
        clone_stats = (
            list(base.stats_cols)
            if base.stats_cols
            else (list(self.stats_cols) if self.stats_cols else None)
        )
        out = TxTable(self.spark, new_root, stats_cols=clone_stats)
        if base.partition_by:
            # the spec rides _commit's create-path resolution (r12);
            # cloned file paths already embed the __txp_ segments
            out._create_partition_by = list(base.partition_by)
        if base.identity:
            # the clone starts at the source's watermark — ids keep
            # advancing, never collide with cloned rows
            out._create_identity = dict(base.identity)
        cm, retired, max_id = (
            (list(base.colmap), list(base.retired), base.max_id)
            if base.colmap is not None
            else (None, None, None)
        )
        out._commit(
            list(base.files),
            "clone",
            None,
            schema_json=base.schema_json,
            stats=dict(base.stats) if base.stats else None,
            dropped=list(base.dropped),
            colmap=cm,
            retired=retired,
            max_id=max_id,
            constraints=(
                dict(base.constraints) if base.constraints else None
            ),
            generated=(
                dict(base.generated) if base.generated else None
            ),
            dvs=self._dvs_of(base) or {},
        )
        # register the clone with the SOURCE so vacuum can see it:
        # one marker file per clone (append-only, race-free)
        cdir = os.path.join(self.log_dir, _CLONES_DIR)
        os.makedirs(cdir, exist_ok=True)
        with open(os.path.join(cdir, f"{uuid.uuid4().hex}.json"), "w") as f:
            json.dump({"root": out.root}, f)
        return out

    def _clone_roots(self) -> list[str]:
        """Roots of clones registered against this table, pruning
        markers whose clone no longer exists (deleted from disk)."""
        cdir = os.path.join(self.log_dir, _CLONES_DIR)
        if not os.path.isdir(cdir):
            return []
        roots = []
        for name in sorted(os.listdir(cdir)):
            path = os.path.join(cdir, name)
            try:
                with open(path) as f:
                    root = json.load(f)["root"]
            except (OSError, ValueError, KeyError):
                continue
            if self.is_table(root):
                roots.append(root)
            else:
                try:  # stale marker: the clone was deleted
                    os.unlink(path)
                except OSError:
                    pass
        return roots

    def vacuum(
        self,
        retain: int = 1,
        min_age_seconds: float = 3600.0,
        force: bool = False,
        retain_hours: float | None = None,
        partition: dict | None = None,
    ) -> list[str]:
        """Delete data files unreferenced by the newest ``retain``
        manifests and drop older manifests.  ``retain_hours`` (r10)
        adds a TIME window: every manifest whose commit timestamp is
        within the last ``retain_hours`` is ALSO kept (union with the
        count — "keep 7 days" composes with "keep at least N").
        Commit timestamps are monotone over versions, so both criteria
        select a contiguous log suffix.  Crash-orphaned commit
        directories (written but never referenced) go too — but only
        once older than ``min_age_seconds`` (dir mtime): every writer
        stages its data directory BEFORE linking the manifest, so an
        unreferenced young directory may be a concurrent writer's
        in-flight commit, and deleting it would let that writer link a
        manifest referencing vanished files.  The age threshold is the
        same defense Delta VACUUM's retention window provides; pass
        ``min_age_seconds=0`` only when no writer can be concurrent.
        Dropping a manifest forgets its txn tag, so keep ``retain``
        larger than any writer's possible replay horizon (the same
        contract Delta VACUUM has with idempotent-writer history).

        Clone guard (r9): a file still referenced by a LIVE registered
        shallow clone (``clone_to``'s marker registry) refuses to be
        deleted — TxCloneFateError names the clone; ``force=True``
        overrides (the Delta behavior, where this is silent data
        loss).  ``compact()`` the clone to re-materialize it onto its
        own files, or delete the clone, then vacuum.

        ``partition`` (r12): bound THIS pass's file deletion to one
        partition of a partitioned table — the per-window maintenance
        shape.  Manifest retention stays table-global (the log is one
        sequence); files of other partitions left behind stay
        unreferenced and any later (unscoped or differently-scoped)
        vacuum collects them."""
        import shutil
        import time

        pf = (
            self._partition_filter(partition)
            if partition is not None
            else None
        )
        versions = self._versions()
        if not versions:
            return []
        keep_versions = versions[-retain:]
        if retain_hours is not None:
            cutoff = (time.time() - retain_hours * 3600.0) * 1_000_000
            kept = set(keep_versions)
            idx = txlog.read_index(self.log_dir, versions)
            for v in versions:
                if v in kept:
                    continue
                ts = idx.get(v, {}).get("ts")
                if ts is not None and ts >= cutoff:
                    kept.add(v)
            keep_versions = sorted(kept)
        # r11 log-checkpoint invariant: the oldest RETAINED manifest
        # must be self-contained BEFORE its ancestors are unlinked, or
        # later delta-form manifests could not reconstruct.  Atomic
        # (os.replace); a crash right after still leaves a valid log.
        txlog.materialize_boundary(self.log_dir, keep_versions[0])
        referenced: set[str] = set()
        for _, m in txlog.iter_manifests(self.log_dir, keep_versions):
            referenced.update(m["files"])
            for dv_paths in (m.get("dvs") or {}).values():
                referenced.update(dv_paths)
            referenced.update(m.get("cdf") or [])
        clone_refs: dict[str, str] = {}  # file -> clone root holding it
        if not force:
            for croot in self._clone_roots():
                clone = TxTable(self.spark, croot)
                for _, cman in txlog.iter_manifests(
                    clone.log_dir, clone._versions()
                ):
                    for fp in cman["files"]:
                        clone_refs.setdefault(fp, croot)
                    for dvp in (cman.get("dvs") or {}).values():
                        for fp in dvp:
                            clone_refs.setdefault(fp, croot)
                    for fp in cman.get("cdf") or []:
                        clone_refs.setdefault(fp, croot)
        now = time.time()
        removed: list[str] = []
        doomed: list[tuple[str, set[str]]] = []
        if os.path.isdir(self.data_dir):
            for commit_dir in os.listdir(self.data_dir):
                cdir = os.path.join(self.data_dir, commit_dir)
                # recursive: partitioned commit dirs nest files under
                # __txp_<col>=<value>/ segments
                members = {
                    os.path.join(dp, n)
                    for dp, _dirs, names in os.walk(cdir)
                    for n in names
                    if n.endswith(".parquet")
                }
                if members and not (members & referenced):
                    held = members & set(clone_refs)
                    if held:
                        # refuse BEFORE deleting anything: a partial
                        # vacuum that already broke other dirs would
                        # make the guard pointless
                        fp = sorted(held)[0]
                        raise TxCloneFateError(
                            f"vacuum of {self.root} would delete "
                            f"{len(held)} file(s) still referenced by "
                            f"shallow clone {clone_refs[fp]} (e.g. {fp})"
                            " — compact() or drop the clone first, or "
                            "pass force=True to accept breaking it"
                        )
                    try:
                        age = now - os.path.getmtime(cdir)
                    except OSError:
                        continue  # raced with its own writer/cleaner
                    if age < min_age_seconds:
                        continue  # possibly a staged-but-uncommitted write
                    if pf is not None:
                        matching = {
                            m
                            for m in members
                            if self._file_in_partition(m, pf)
                        }
                        if not matching:
                            continue  # out of this pass's window
                        if matching != members:
                            # mixed-partition commit dir: delete only
                            # the in-scope files; the dir (and the
                            # rest) falls to a later pass
                            doomed.append((None, matching))
                            continue
                    doomed.append((cdir, members))
        for cdir, members in doomed:
            if cdir is None:
                for m in sorted(members):
                    try:
                        os.unlink(m)
                    except OSError:
                        continue
            else:
                shutil.rmtree(cdir)
            removed.extend(sorted(members))
        keep_set = set(keep_versions)
        for v in versions:
            if v not in keep_set:
                os.unlink(os.path.join(self.log_dir, _manifest_name(v)))
        # index hygiene: drop lines for unlinked versions (harmless
        # but unbounded otherwise); survivors re-heal on demand
        txlog.compact_index(self.log_dir, keep_versions)
        return removed
