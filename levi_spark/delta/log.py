"""Delta transaction-log replay on the driver.

This is the engine-like core the reference delegates to delta-rs
(``/root/reference/levi/__init__.py:3,14,57,109`` — ``DeltaTable`` /
``get_add_actions``), and like delta-rs it replays the log on the
driver (SURVEY.md §3.2).

This module is the one reader of ``_delta_log``. It alone lists the
log (:meth:`DeltaLog._scan_log`) and parses commit lines
(:meth:`DeltaLog.commit_actions`: blank lines skipped, a malformed line
raises ``ValueError`` naming its file and line). Its existence rule is
the only one: a path is a Delta table iff its ``_delta_log`` holds at
least one commit or complete checkpoint by that listing, accepted
staged commits included (:meth:`DeltaLog.exists`). Writers list the
log only to arbitrate a write: the O_EXCL publish, the staged-commit
prefix check and ``backfill_commits``.

* The snapshot's checkpoint — classic, multipart, or a v2 manifest
  with its sidecars; parquet read with pyarrow, JSON with ``json`` —
  and the JSON commits after it are parsed into action Rows conformed
  to ``COMMIT_SCHEMA`` (so ``partitionValues`` is a real
  ``map<string,string>``), each tagged with its version. Commits before
  the checkpoint may be vacuumed away (fixtures: ``with_checkpoint``,
  ``no_replay``). No Spark job runs. A malformed commit line raises
  ``ValueError`` naming its file and line.
* Reconciliation is one pass in Python (:meth:`Snapshot._local_live`,
  :meth:`Snapshot._log_state`): per path the last action wins and an
  add beats a remove within a version; the latest metaData and
  protocol win; per appId the SetTransaction with the highest
  version, and per domain the latest domainMetadata (``removed``
  clears it).
* The live-file list is metadata scale — one row per live file, the
  list every scan is planned from — and stays on the driver; the
  add-actions frames are built from it with :func:`local_frame`.
* Per-file stats (``numRecords`` / ``minValues`` / ``maxValues`` /
  ``nullCount``) arrive as a JSON string (``basic_append``) or not at
  all (``no_stats``); we normalize with ``from_json`` against a stats
  schema derived from the table's ``metaData.schemaString``.

Semantics cross-checked against the reference's fixture corpus at
``/root/reference/tests/reader_tests/generated/`` (11 tables: checkpoint
replay, vacuumed history, schema change, null/unicode/typed partitions,
stats variants).
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass
from urllib.parse import unquote

from levi_spark.fs import fs_for, join_path

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_COMMIT_RE = re.compile(r"^(\d{20})\.json$")
# staged (un-backfilled) coordinated/catalog-owned commits:
# _delta_log/_commits/<v>.<uuid>.json (coordinated-commits layout) or
# _delta_log/_staged_commits/<v>.<uuid>.json (catalog-owned layout)
_STAGED_RE = re.compile(r"^(\d{20})\.([0-9a-fA-F][0-9a-fA-F-]{7,})\.json$")
_STAGED_DIRS = ("_commits", "_staged_commits")
_CHECKPOINT_RE = re.compile(r"^(\d{20})\.checkpoint\.parquet$")
# multipart classic: <v>.checkpoint.<part>.<totalParts>.parquet
_CP_MULTI_RE = re.compile(r"^(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet$")
# v2: <v>.checkpoint.<uniqueId>.parquet|json (uniqueId is a UUID — one
# dot-free token, so multipart names never match this)
_CP_V2_RE = re.compile(r"^(\d{20})\.checkpoint\.([0-9a-zA-Z_-]+)\.(parquet|json)$")

# Action schema for reading commit JSON files (subset of the Delta
# protocol that matters for snapshot reconstruction).
# deletionVector is the Delta protocol's DV descriptor: the rows in
# the roaring bitmap it names are logically deleted from the file
# without rewriting it (levi_spark.delta.roaring).
_DV_TYPE = T.StructType(
    [
        T.StructField("storageType", T.StringType()),
        T.StructField("pathOrInlineDv", T.StringType()),
        T.StructField("offset", T.IntegerType()),
        T.StructField("sizeInBytes", T.IntegerType()),
        T.StructField("cardinality", T.LongType()),
    ]
)
_ADD_TYPE = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("partitionValues", T.MapType(T.StringType(), T.StringType())),
        T.StructField("size", T.LongType()),
        T.StructField("modificationTime", T.LongType()),
        T.StructField("dataChange", T.BooleanType()),
        T.StructField("stats", T.StringType()),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
        T.StructField("deletionVector", _DV_TYPE),
        # row tracking (writer feature "rowTracking"): fresh row ids are
        # baseRowId + position-in-file; the commit that added the file
        T.StructField("baseRowId", T.LongType()),
        T.StructField("defaultRowCommitVersion", T.LongType()),
        # clustered tables (writer feature "clustering"): the name of
        # the clustering implementation that laid this file out
        T.StructField("clusteringProvider", T.StringType()),
    ]
)
_REMOVE_TYPE = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("deletionTimestamp", T.LongType()),
        T.StructField("dataChange", T.BooleanType()),
    ]
)
_METADATA_TYPE = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField(
            "format",
            T.StructType(
                [
                    T.StructField("provider", T.StringType()),
                    T.StructField("options", T.MapType(T.StringType(), T.StringType())),
                ]
            ),
        ),
        T.StructField("schemaString", T.StringType()),
        T.StructField("partitionColumns", T.ArrayType(T.StringType())),
        T.StructField("configuration", T.MapType(T.StringType(), T.StringType())),
        T.StructField("createdTime", T.LongType()),
    ]
)
_PROTOCOL_TYPE = T.StructType(
    [
        T.StructField("minReaderVersion", T.IntegerType()),
        T.StructField("minWriterVersion", T.IntegerType()),
        T.StructField("readerFeatures", T.ArrayType(T.StringType())),
        T.StructField("writerFeatures", T.ArrayType(T.StringType())),
    ]
)

# Table features this reader actually implements. deletionVectors =
# the spec's roaring-bitmap DVs ('u'/'p'/'i' descriptors decoded by
# levi_spark.delta.roaring — the only DV format this engine writes).
# v2Checkpoint = UUID-named parquet/JSON manifests with sidecar files
# (_scan_log discovery + Snapshot._cp_files resolution).
_SUPPORTED_READER_FEATURES = frozenset(
    {"timestampNtz", "vacuumProtocolCheck", "appendOnly", "invariants",
     "deletionVectors", "v2Checkpoint", "typeWidening",
     "typeWidening-preview", "variantType", "variantType-preview",
     # shredded variants: the scan requests VariantType for the column
     # and Spark's parquet reader reassembles typed_value/value/
     # metadata per the Parquet Variant Shredding spec (verified
     # value-exact against a physically shredded fixture in
     # tests/test_v2_checkpoints.py and the variant_shredding_counts
     # driver gate)
     "variantShredding", "variantShredding-preview",
     # collated strings (Delta collated-string-type RFC): PySpark's
     # StructType.fromJson natively converts the __COLLATIONS field-
     # metadata key into collated StringTypes (validating the
     # provider), meta.physical_schema carries them into the parquet
     # scan, and Spark 4's collation engine applies the REAL
     # comparison semantics (UTF8_LCASE, UNICODE, UNICODE_CI, ICU
     # locales) in filters/joins/aggregations — proven end-to-end in
     # tests/test_protocol_guard.py (case-insensitive equality through
     # a DeltaLog read). Unknown providers fail loudly at schema parse.
     "collations", "collations-preview"}
)


class UnsupportedTableFeatureError(ValueError):
    """The table's Delta protocol requires reader capabilities this
    engine does not implement; reading would return wrong results."""


def _check_reader_protocol(proto, meta: "TableMetadata", table_path: str) -> None:
    v = proto["minReaderVersion"] or 1
    mode = (meta.configuration or {}).get("delta.columnMapping.mode", "none")
    if mode not in ("none", "name", "id"):
        raise UnsupportedTableFeatureError(
            f"{table_path}: columnMapping mode {mode!r} is not supported"
        )
    if v <= 2:
        # reader v2 == column mapping capable; 'name' mode reads by
        # physical name, 'id' mode by parquet field id (the scan schema
        # carries parquet.field.id metadata and the session enables
        # spark.sql.parquet.fieldId.read.enabled)
        return
    if v == 3:
        feats = set(proto["readerFeatures"] or [])
        # typeWidening(-preview): widened tables read with the LATEST
        # (wider) schema and this Spark's parquet scan upcasts older
        # narrow files natively across the whole spec matrix —
        # int->long, float->double, smallint->int, decimal scale
        # growth, and date->timestampNtz (all probed on this build)
        feats.discard("columnMapping")  # supported for mode none/name/id
        unsupported = feats - _SUPPORTED_READER_FEATURES
        if unsupported:
            raise UnsupportedTableFeatureError(
                f"{table_path}: unsupported reader features {sorted(unsupported)}"
            )
        return
    raise UnsupportedTableFeatureError(
        f"{table_path}: minReaderVersion {v} is beyond this reader"
    )
# SetTransaction action (Delta's idempotent-writer primitive): an
# application records the last source version it applied INSIDE the
# commit, so "applied" and "committed" are atomic — the crash-replay
# guard incremental_sync / refresh_aggregate build on.
_TXN_TYPE = T.StructType(
    [
        T.StructField("appId", T.StringType()),
        T.StructField("version", T.LongType()),
        T.StructField("lastUpdated", T.LongType()),
    ]
)
# DomainMetadata action (writer feature "domainMetadata"): named
# configuration a table feature keeps in the log — the clustering
# columns, row tracking's high-water mark; ``removed`` retires it.
_DOMAIN_TYPE = T.StructType(
    [
        T.StructField("domain", T.StringType()),
        T.StructField("configuration", T.StringType()),
        T.StructField("removed", T.BooleanType()),
    ]
)
COMMIT_SCHEMA = T.StructType(
    [
        T.StructField("add", _ADD_TYPE),
        T.StructField("remove", _REMOVE_TYPE),
        T.StructField("metaData", _METADATA_TYPE),
        T.StructField("protocol", _PROTOCOL_TYPE),
        T.StructField("txn", _TXN_TYPE),
        T.StructField("domainMetadata", _DOMAIN_TYPE),
    ]
)

def _conform(dt: T.DataType, v):
    """Conform a json/pyarrow-parsed value to ``dt``, Row-typed:
    structs -> Row in schema field order (missing keys -> None, extra
    keys dropped), maps -> dict (pyarrow yields key/value pair lists),
    arrays -> list."""
    if v is None:
        return None
    if isinstance(dt, T.StructType):
        return Row(**{f.name: _conform(f.dataType, v.get(f.name)) for f in dt.fields})
    if isinstance(dt, T.MapType):
        if isinstance(v, dict):
            return {k: _conform(dt.valueType, x) for k, x in v.items()}
        return {k: _conform(dt.valueType, x) for k, x in v}  # pyarrow pairs
    if isinstance(dt, T.ArrayType):
        return [_conform(dt.elementType, x) for x in v]
    return v


def _parse_action(line: str, path: str, lineno: int) -> dict:
    """One JSON log line as an action dict. A torn or non-object line
    raises ``ValueError`` naming the file and line: replaying without
    it would silently rebuild an older table state."""
    try:
        d = json.loads(line)
        if isinstance(d, dict):
            return d
        err = "not a JSON object"
    except ValueError as e:
        err = str(e)
    raise ValueError(f"{path}:{lineno}: malformed Delta log action ({err})")


def local_frame(spark: SparkSession, rows, schema: T.StructType) -> DataFrame:
    """Driver-side rows (tuples/Rows in ``schema`` field order; structs
    as Rows, maps as dicts) as an Arrow-backed DataFrame.

    Spark keeps such a frame a ``LocalRelation`` while it is under
    ``spark.sql.execution.arrow.localRelationThreshold`` (and falls back
    to an RDD above it), so the optimizer folds Project and Filter over
    it at planning time and collecting the result starts no job. A
    ``createDataFrame(list)`` frame is an RDD scan instead: every
    collect, aggregate or broadcast over it costs a job."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)


# Leaf types for which Delta collects min/max stats.
_MINMAX_TYPES = (
    T.StringType,
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
    T.DateType,
    T.TimestampType,
    T.BooleanType,
)


def _minmax_schema(schema: T.StructType) -> T.StructType:
    """Schema for parsing ``minValues``/``maxValues`` JSON: recurse into
    structs, keep stats-eligible leaves, drop arrays/maps/binary."""
    fields = []
    for f in schema.fields:
        if isinstance(f.dataType, T.StructType):
            nested = _minmax_schema(f.dataType)
            if nested.fields:
                fields.append(T.StructField(f.name, nested))
        elif isinstance(f.dataType, _MINMAX_TYPES):
            fields.append(T.StructField(f.name, f.dataType))
    return T.StructType(fields)


def _nullcount_schema(schema: T.StructType) -> T.StructType:
    """nullCount mirrors the data schema with long leaves (arrays/maps
    included — Delta records their null counts)."""
    fields = []
    for f in schema.fields:
        if isinstance(f.dataType, T.StructType):
            fields.append(T.StructField(f.name, _nullcount_schema(f.dataType)))
        else:
            fields.append(T.StructField(f.name, T.LongType()))
    return T.StructType(fields)


def stats_schema(data_schema: T.StructType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("numRecords", T.LongType()),
            T.StructField("minValues", _minmax_schema(data_schema)),
            T.StructField("maxValues", _minmax_schema(data_schema)),
            T.StructField("nullCount", _nullcount_schema(data_schema)),
        ]
    )


def _leaf_paths(schema: T.StructType, prefix: str = "") -> list[str]:
    out = []
    for f in schema.fields:
        p = f"{prefix}{f.name}"
        if isinstance(f.dataType, T.StructType):
            out.extend(_leaf_paths(f.dataType, p + "."))
        else:
            out.append(p)
    return out


_PHYS_NAME_KEY = "delta.columnMapping.physicalName"
_FIELD_ID_KEY = "delta.columnMapping.id"


def _physical_type(dt: T.DataType, with_ids: bool = False) -> T.DataType:
    """Rewrite every struct field under ``dt`` to its column-mapping
    physical name, through ANY nesting — structs, arrays of arrays,
    map keys/values — so mapped metadata can never be silently
    dropped at an unhandled level."""
    if isinstance(dt, T.StructType):
        return T.StructType([_physical_field(x, with_ids) for x in dt.fields])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(
            _physical_type(dt.elementType, with_ids), dt.containsNull
        )
    if isinstance(dt, T.MapType):
        return T.MapType(
            _physical_type(dt.keyType, with_ids),
            _physical_type(dt.valueType, with_ids),
            dt.valueContainsNull,
        )
    return dt


def _physical_field(f: T.StructField, with_ids: bool = False) -> T.StructField:
    """Field renamed to its column-mapping physical name, recursively
    (nested struct fields carry their own physicalName metadata).

    ``with_ids`` (columnMapping 'id' mode): the field additionally
    carries ``parquet.field.id`` metadata copied from
    ``delta.columnMapping.id``, so Spark's parquet reader — with
    ``spark.sql.parquet.fieldId.read.enabled`` — resolves the column
    by FIELD ID, not by name. That is what the 'id' mode contract
    requires: the physical column names in a foreign-written file
    (e.g. an Iceberg-converted/UniForm table) need not match the
    log's physicalName, only the ids are authoritative."""
    md = f.metadata or {}
    name = md.get(_PHYS_NAME_KEY, f.name)
    out_md = None
    if with_ids and md.get(_FIELD_ID_KEY) is not None:
        out_md = {"parquet.field.id": int(md[_FIELD_ID_KEY])}
    return T.StructField(
        name, _physical_type(f.dataType, with_ids), f.nullable, out_md
    )


@dataclass
class TableMetadata:
    id: str | None
    schema: T.StructType
    partition_columns: list[str]
    configuration: dict[str, str]
    # metaData.createdTime (epoch ms) — what DESCRIBE DETAIL reports as
    # createdAt; persisted in the metaData action, so it survives
    # checkpointing + log expiry (commit-0's timestamp does not).
    created_time: int | None = None

    @property
    def data_columns(self) -> list[str]:
        return [f.name for f in self.schema.fields]

    @property
    def column_mapping_mode(self) -> str:
        return (self.configuration or {}).get("delta.columnMapping.mode", "none")

    @property
    def physical_names(self) -> dict[str, str]:
        """logical -> parquet-physical top-level column name (identity
        unless column mapping is active)."""
        if self.column_mapping_mode == "none":
            return {f.name: f.name for f in self.schema.fields}
        return {
            f.name: (f.metadata or {}).get(_PHYS_NAME_KEY, f.name)
            for f in self.schema.fields
        }

    @property
    def materialized_row_columns(self) -> tuple[str, str] | None:
        """(row-id, row-commit-version) physical column names a rewrite
        stores preserved row ids under, or None unless row tracking is
        enabled and both names are configured (the writer sets both
        when it enables the feature)."""
        conf = self.configuration or {}
        mid = conf.get("delta.rowTracking.materializedRowIdColumnName")
        mcv = conf.get("delta.rowTracking.materializedRowCommitVersionColumnName")
        if conf.get("delta.enableRowTracking") == "true" and mid and mcv:
            return mid, mcv
        return None

    @property
    def physical_schema(self) -> T.StructType:
        """Schema of the parquet data files: table schema minus partition
        columns (Delta stores partition values only in the log/paths),
        under PHYSICAL names when column mapping is on; in 'id' mode the
        fields additionally carry ``parquet.field.id`` metadata so the
        scan resolves columns by field id (see ``_physical_field``)."""
        fields = [
            f for f in self.schema.fields if f.name not in set(self.partition_columns)
        ]
        if self.column_mapping_mode != "none":
            with_ids = self.column_mapping_mode == "id"
            fields = [_physical_field(f, with_ids) for f in fields]
        return T.StructType(fields)


@dataclass
class LogState:
    """A snapshot's non-file actions after replay, as COMMIT_SCHEMA Rows
    (see :meth:`Snapshot._log_state`)."""

    metadata: Row | None
    protocol: Row | None
    txns: dict[str, Row]
    domains: dict[str, Row]


class DeltaLog:
    """Reader for a Delta table's ``_delta_log`` directory."""

    def __init__(self, spark: SparkSession, table_path: str):
        self.spark = spark
        self.fs = fs_for(table_path)
        self.table_path = self.fs.absolutize(table_path)
        self.log_path = os.path.join(self.table_path, "_delta_log")
        if not self.fs.isdir(self.log_path):
            raise FileNotFoundError(f"not a Delta table (no _delta_log): {table_path}")

    # -- log-dir listing (one driver-side listing; the log dir is O(versions)) --

    def _entries(self) -> tuple[list[int], list[int]]:
        commits, cps = self._scan_log()
        return commits, sorted(cps)

    def _scan_log(self) -> tuple[list[int], dict[int, dict]]:
        """One listing of ``_delta_log``: sorted commit versions plus a
        map of COMPLETE checkpoints — classic single-file, multipart
        classic (all parts present), and v2 (UUID-named parquet or JSON
        manifest; sidecars resolved lazily at read time). Descriptor:
        ``{"parquet": [paths], "manifest_json": path|None,
        "v2_manifest": path|None}``.

        COORDINATED / CATALOG-OWNED COMMITS (read side, r08): staged
        commits under ``_delta_log/_commits`` or ``_staged_commits``
        (``<v>.<uuid>.json``) extend the backfilled tail under the
        FILESYSTEM-coordinator contract — the only coordinator a pure
        object-store reader can honor: a staged version counts iff it
        is UNAMBIGUOUS (exactly one staged file; two uuids for one
        un-backfilled version means only the real coordinator knows
        the ratified winner — refuse) and CONTIGUOUS with the known
        tail (a gap means ratification order is unknowable — refuse).
        Backfilled copies always win at equal version (the spec makes
        them byte-equivalent); staged files at-or-below the backfilled
        tail are ignored. ``self._staged`` maps the accepted staged
        versions to their paths for ``_commit_file``."""
        self._staged: dict[int, str] = {}
        staged_all: dict[int, list[str]] = {}
        for d in _STAGED_DIRS:
            sdir = os.path.join(self.log_path, d)
            if not self.fs.isdir(sdir):
                continue
            for name in self.fs.listdir(sdir):
                if m := _STAGED_RE.match(name):
                    staged_all.setdefault(int(m.group(1)), []).append(
                        os.path.join(sdir, name)
                    )
        commits: list[int] = []
        classic: dict[int, str] = {}
        multi: dict[int, dict[int, tuple[str, int]]] = {}
        v2: dict[int, tuple[str, str]] = {}
        for name in self.fs.listdir(self.log_path):
            if m := _COMMIT_RE.match(name):
                commits.append(int(m.group(1)))
            elif m := _CHECKPOINT_RE.match(name):
                classic[int(m.group(1))] = name
            elif m := _CP_MULTI_RE.match(name):
                multi.setdefault(int(m.group(1)), {})[int(m.group(2))] = (
                    name,
                    int(m.group(3)),
                )
            elif m := _CP_V2_RE.match(name):
                v2[int(m.group(1))] = (name, m.group(3))
        cps: dict[int, dict] = {}
        for v, (name, fmt) in v2.items():
            p = os.path.join(self.log_path, name)
            cps[v] = {
                "parquet": [p] if fmt == "parquet" else [],
                "manifest_json": p if fmt == "json" else None,
                "v2_manifest": p,
            }
        for v, parts in multi.items():
            total = next(iter(parts.values()))[1]
            if set(parts) == set(range(1, total + 1)) and all(
                t == total for _n, t in parts.values()
            ):
                cps[v] = {
                    "parquet": [
                        os.path.join(self.log_path, parts[i][0])
                        for i in range(1, total + 1)
                    ],
                    "manifest_json": None,
                    "v2_manifest": None,
                }
        for v, name in classic.items():
            # classic wins at equal version: cheapest to read (no
            # manifest parse), and any complete checkpoint is valid
            cps[v] = {
                "parquet": [os.path.join(self.log_path, name)],
                "manifest_json": None,
                "v2_manifest": None,
            }
        # merge the staged tail (filesystem-coordinator contract above)
        if staged_all:
            known = max(commits + list(cps), default=-1)
            for v in sorted(staged_all):
                if v <= known and (v in commits or v <= max(cps, default=-1)):
                    continue  # backfilled/checkpointed copy wins
                if len(staged_all[v]) > 1:
                    raise ValueError(
                        f"{self.log_path}: un-backfilled commit {v} has "
                        f"{len(staged_all[v])} staged files — the ratified "
                        "winner is known only to the commit coordinator; "
                        "refusing to guess"
                    )
                if v != known + 1:
                    raise ValueError(
                        f"{self.log_path}: staged commit {v} is not "
                        f"contiguous with the log tail ({known}) — "
                        "ratification order is unknowable without the "
                        "commit coordinator"
                    )
                self._staged[v] = staged_all[v][0]
                commits.append(v)
                known = v
        return sorted(commits), cps

    def _commit_file(self, v: int) -> str:
        """Path of commit ``v``'s JSON: the backfilled file, or the
        accepted staged file for an un-backfilled coordinated commit
        (populated by the most recent ``_scan_log``; scans on first
        use)."""
        if not hasattr(self, "_staged"):
            self._scan_log()
        backfilled = os.path.join(self.log_path, f"{v:020d}.json")
        if v in self._staged and not self.fs.exists(backfilled):
            return self._staged[v]
        return backfilled

    def _read_actions(self, path: str) -> list[dict]:
        """The actions of one JSON log file, blank lines skipped; a
        malformed line raises ``ValueError`` (:func:`_parse_action`)."""
        return [
            _parse_action(line, path, n)
            for n, line in enumerate(self.fs.read_text(path).splitlines(), 1)
            if line.strip()
        ]

    def commit_actions(self, v: int) -> list[dict]:
        """Commit ``v``'s actions as dicts, in file order. A commit
        expired from the log raises ``FileNotFoundError``."""
        return self._read_actions(self._commit_file(v))

    @classmethod
    def exists(cls, table_path: str) -> bool:
        """Whether ``table_path`` is a Delta table: its ``_delta_log``
        holds at least one commit or complete checkpoint by
        :meth:`_scan_log`'s listing (accepted staged commits count)."""
        try:
            cls(None, table_path).snapshot()
        except FileNotFoundError:
            return False
        return True

    def latest_version(self) -> int:
        commits, checkpoints = self._entries()
        if not commits and not checkpoints:
            raise FileNotFoundError(f"empty _delta_log at {self.log_path}")
        return max(commits + checkpoints)

    def snapshot(self, version: int | None = None) -> "Snapshot":
        """The snapshot at ``version`` (default: latest). Raises
        ``FileNotFoundError`` when the table does not exist
        (:meth:`exists`)."""
        commits, cp_map = self._scan_log()
        checkpoints = sorted(cp_map)
        if not commits and not checkpoints:
            raise FileNotFoundError(f"empty _delta_log at {self.log_path}")
        latest = max(commits + checkpoints)
        v = latest if version is None else version
        if version is not None and version > latest:
            raise ValueError(f"version {version} > latest {latest}")
        usable_cps = [c for c in checkpoints if c <= v]
        cp = max(usable_cps) if usable_cps else None
        commit_versions = [c for c in commits if (cp is None or c > cp) and c <= v]
        return Snapshot(
            self, v, cp, commit_versions, cp_map.get(cp) if cp is not None else None
        )

    # -- timestamp-based time travel ----------------------------------------

    def commit_timestamps(self) -> list[tuple[int, int]]:
        """(version, commit timestamp ms) per available commit file,
        monotonically adjusted the way delta-spark resolves
        ``timestampAsOf``: a commit whose recorded timestamp is not
        strictly greater than its predecessor's is bumped to
        predecessor+1ms, so the mapping timestamp->version is total and
        deterministic even when commits land within one clock tick.
        The timestamp is read from the commit's ``commitInfo`` action —
        preferring ``inCommitTimestamp`` (the Delta inCommitTimestamp
        writer feature: a writer-guaranteed monotonic stamp that
        survives log-file copies/restores scrambling mtimes) over the
        ordinary ``timestamp`` field; file mtime is the fallback for
        foreign commits with neither. A malformed commit line raises
        (:meth:`commit_actions`). Driver-side O(versions) file reads —
        the same cost class as the log listing itself."""
        commits, _ = self._entries()
        out: list[tuple[int, int]] = []
        prev = -1
        for v in commits:
            ts = None
            for a in self.commit_actions(v):
                ci = a.get("commitInfo") or {}
                ts = ci.get("inCommitTimestamp")
                ts = ci.get("timestamp") if ts is None else ts
                if ts is not None:
                    break
            if ts is None:
                ts = self.fs.stat(self._commit_file(v)).mtime_ms
            ts = prev = max(int(ts), prev + 1)
            out.append((v, ts))
        return out

    def version_at_timestamp(self, ts_ms: int) -> int:
        """Latest commit version whose (adjusted) timestamp is <=
        ``ts_ms`` — delta-spark's ``timestampAsOf`` contract. Raises
        ValueError for a timestamp before the earliest *available*
        commit (matching Delta's behavior when older commits were
        expired by checkpoint cleanup: they are not reachable)."""
        pairs = self.commit_timestamps()
        if not pairs:
            # checkpoint-only log (history expired): the table is
            # readable by version, but no version is addressable by
            # time — same error class as a too-early timestamp
            raise ValueError(
                f"no commit timestamps available in {self.log_path} "
                "(history expired past a checkpoint); use version-based "
                "time travel"
            )
        if ts_ms < pairs[0][1]:
            raise ValueError(
                f"timestamp {ts_ms} is before the earliest reachable commit "
                f"(version {pairs[0][0]} at {pairs[0][1]})"
            )
        return max(v for v, t in pairs if t <= ts_ms)

    def snapshot_at_timestamp(self, ts_ms: int) -> "Snapshot":
        return self.snapshot(self.version_at_timestamp(ts_ms))


class Snapshot:
    """A Delta snapshot at a fixed version: add-actions DataFrame,
    resolved table metadata, and data-plane reads."""

    def __init__(
        self,
        log: DeltaLog,
        version: int,
        checkpoint_version: int | None,
        commit_versions: list[int],
        checkpoint_desc: dict | None = None,
    ):
        self.log = log
        self.spark = log.spark
        self.version = version
        self._cp = checkpoint_version
        # descriptor from DeltaLog._scan_log; default reconstructs the
        # classic single-file shape for direct constructions
        self._cp_desc = checkpoint_desc or (
            {
                "parquet": [
                    os.path.join(
                        log.log_path, f"{checkpoint_version:020d}.checkpoint.parquet"
                    )
                ],
                "manifest_json": None,
                "v2_manifest": None,
            }
            if checkpoint_version is not None
            else None
        )
        self._cp_files_cache: tuple[list[str], str | None] | None = None
        self._commit_versions = commit_versions
        self._metadata: TableMetadata | None = None
        self._protocol: dict | None = None
        self._actions: list | None = None
        self._state: LogState | None = None
        self._live_rows: list | None = None

    def _cp_files(self) -> tuple[list[str], str | None]:
        """Files whose union is the checkpoint's action set:
        (parquet paths, optional JSON-manifest path). For a v2
        checkpoint the manifest's ``sidecar`` actions are resolved here
        (one driver-side manifest read) to
        ``_delta_log/_sidecars/<name>`` parquet files."""
        if self._cp_files_cache is not None:
            return self._cp_files_cache
        desc = self._cp_desc
        if desc is None:
            self._cp_files_cache = ([], None)
            return self._cp_files_cache
        parquet = list(desc["parquet"])
        manifest_json = desc["manifest_json"]
        v2m = desc.get("v2_manifest")
        if v2m is not None:
            names: list[str] = []
            if v2m.endswith(".json"):
                for a in self.log._read_actions(v2m):
                    sc = a.get("sidecar")
                    if sc and sc.get("path"):
                        names.append(sc["path"])
            else:
                import io

                import pyarrow.parquet as pq

                t = pq.read_table(io.BytesIO(self.log.fs.read_bytes(v2m)))
                if "sidecar" in t.column_names:
                    for rec in t.column("sidecar").to_pylist():
                        if rec and rec.get("path"):
                            names.append(rec["path"])
            parquet += [
                os.path.join(self.log.log_path, "_sidecars", n) for n in names
            ]
        self._cp_files_cache = (parquet, manifest_json)
        return self._cp_files_cache

    # ---- log replay --------------------------------------------------------

    def _local_actions(self) -> list:
        """Every action of the snapshot — the checkpoint's, then each
        commit's in version order — as a COMMIT_SCHEMA-conformed Row
        plus its ``version``, parsed on the driver with json/pyarrow (no
        Spark job) and cached. A malformed commit line raises
        ``ValueError`` (:func:`_parse_action`)."""
        if self._actions is not None:
            return self._actions
        if not self._commit_versions and self._cp is None:
            # a snapshot whose log entries were all expired is
            # unreadable, not empty
            raise FileNotFoundError(f"no log entries for version {self.version}")
        import io

        import pyarrow.parquet as pq

        fs = self.log.fs
        cp_parquets, cp_json = self._cp_files()
        raw: list[tuple[int, dict]] = [
            (self._cp, rec)
            for p in cp_parquets
            for rec in pq.read_table(io.BytesIO(fs.read_bytes(p))).to_pylist()
        ]
        if cp_json:
            raw += [(self._cp, a) for a in self.log._read_actions(cp_json)]
        for v in sorted(self._commit_versions):
            raw += [(v, a) for a in self.log.commit_actions(v)]
        self._actions = [
            Row(
                **{
                    f.name: _conform(f.dataType, d.get(f.name))
                    for f in COMMIT_SCHEMA.fields
                },
                version=v,
            )
            for v, d in raw
        ]
        return self._actions

    def _log_state(self) -> LogState:
        """The snapshot's non-file state, settled once: the latest
        metaData and protocol, per appId the SetTransaction with the
        highest version, and per domain the latest domainMetadata (a
        ``removed`` one clears the domain). Actions arrive in replay
        order, so a later one replaces an earlier one. Metadata
        resolution, the checkpoint writer and the ``.crc`` checksum all
        read this."""
        if self._state is None:
            st = LogState(None, None, {}, {})
            for r in self._local_actions():
                m, p, t, dm = r["metaData"], r["protocol"], r["txn"], r["domainMetadata"]
                if m is not None and m["schemaString"] is not None:
                    st.metadata = m
                if p is not None and p["minReaderVersion"] is not None:
                    st.protocol = p
                if t is not None and t["appId"] is not None:
                    cur = st.txns.get(t["appId"])
                    if cur is None or t["version"] >= cur["version"]:
                        st.txns[t["appId"]] = t
                if dm is not None and dm["domain"]:
                    if dm["removed"]:
                        st.domains.pop(dm["domain"], None)
                    else:
                        st.domains[dm["domain"]] = dm
            self._state = st
        return self._state

    # ---- metadata ----------------------------------------------------------

    @property
    def metadata(self) -> TableMetadata:
        if self._metadata is None:
            st = self._log_state()
            m = st.metadata
            if m is None:
                raise ValueError(f"no metaData action found for {self.log.table_path}")
            meta = TableMetadata(
                id=m["id"],
                schema=T.StructType.fromJson(json.loads(m["schemaString"])),
                partition_columns=list(m["partitionColumns"] or []),
                configuration=dict(m["configuration"] or {}),
                created_time=m["createdTime"],
            )
            if st.protocol is not None:
                _check_reader_protocol(st.protocol, meta, self.log.table_path)
            self._metadata = meta
        return self._metadata

    @property
    def protocol(self) -> dict:
        """The snapshot's effective protocol action (latest wins) as a
        plain dict — ``{minReaderVersion, minWriterVersion}`` plus
        ``readerFeatures``/``writerFeatures`` when present; the Delta
        default ``{1, 2}`` for logs that never wrote one. Commit
        builders re-emit THIS (possibly merged with a feature
        requirement) instead of a hardcoded default, so a protocol
        upgrade — e.g. standard deletion vectors — is never silently
        reverted by the next unrelated operation."""
        if self._protocol is None:
            p = self._log_state().protocol
            p = (
                p.asDict(recursive=True)
                if p is not None
                else {"minReaderVersion": 1, "minWriterVersion": 2}
            )
            self._protocol = {k: v for k, v in p.items() if v is not None}
        return dict(self._protocol)

    def txn_versions(self) -> dict[str, int]:
        """Latest SetTransaction version per appId at this snapshot —
        Delta's ``txnVersion`` lookup."""
        return {app: t["version"] for app, t in self._log_state().txns.items()}

    def domain_metadata(self) -> dict[str, dict]:
        """Live ``domainMetadata`` per domain at this snapshot, as
        ``{domain, configuration, removed}`` dicts: the latest action
        per domain over the checkpoint and the commits after it, where
        ``removed: true`` clears the domain. Checkpoints carry the live
        domains, so they survive log expiry."""
        return {
            k: {"domain": k, "configuration": dm["configuration"], "removed": False}
            for k, dm in self._log_state().domains.items()
        }

    def clustering_columns(self) -> list[str]:
        """The clustered table's clustering columns from the
        ``delta.clustering`` domain (writer feature ``clustering``):
        the domain's configuration JSON carries ``clusteringColumns``
        as a list of column-name paths. Empty list when the table is
        not clustered."""
        dm = self.domain_metadata().get("delta.clustering")
        if not dm or not dm.get("configuration"):
            return []
        conf = json.loads(dm["configuration"])
        return [
            ".".join(p) if isinstance(p, list) else str(p)
            for p in conf.get("clusteringColumns", [])
        ]

    def row_id_high_water_mark(self) -> int:
        """Row tracking's ``rowIdHighWaterMark`` (-1 when no row ids
        were ever assigned): the ``delta.rowTracking`` domain value,
        floored by what live files already claim (base + numRecords -
        1), so a domain that lags the adds — from a foreign writer, or
        lost by a checkpoint written before checkpoints carried
        domains — can never cause id reuse against this snapshot."""
        hwm = -1
        dm = self.domain_metadata().get("delta.rowTracking")
        if dm and dm.get("configuration"):
            try:
                hwm = int(
                    json.loads(dm["configuration"]).get("rowIdHighWaterMark", -1)
                )
            except (TypeError, ValueError):
                pass
        for r in self.live_adds_collected():
            a = r["add"]
            base = a["baseRowId"]
            if base is None:
                continue
            st = a["stats"]
            num = json.loads(st).get("numRecords") if st else None
            if num is not None:
                hwm = max(hwm, int(base) + int(num) - 1)
        return hwm

    # ---- add actions (the metadata-plane table) ----------------------------

    def _local_live(self) -> list:
        """The reconciled live files as ``Row(add, version)``: per path
        the last action wins, and within a version an add supersedes a
        remove (overwrite commits pair remove+add across paths)."""
        best: dict[str, tuple[tuple[int, int], Row | None]] = {}
        for r in self._local_actions():
            a, rm = r["add"], r["remove"]
            if a is not None and a["path"] is not None:
                path, key, payload = a["path"], (r["version"], 1), r
            elif rm is not None and rm["path"] is not None:
                path, key, payload = rm["path"], (r["version"], 0), None
            else:
                continue
            cur = best.get(path)
            if cur is None or key > cur[0]:
                best[path] = (key, payload)
        return [
            Row(add=p["add"], version=key[0])
            for key, p in best.values()
            if p is not None
        ]

    def live_adds_raw(self) -> DataFrame:
        """Reconciled live files as RAW ``add`` structs (URL-encoded
        paths, stats still a JSON string) + the winning ``version``, as
        a driver-built :func:`local_frame`."""
        schema = T.StructType(
            [
                T.StructField("add", _ADD_TYPE),
                T.StructField("version", T.LongType()),
            ]
        )
        return local_frame(self.spark, self.live_adds_collected(), schema)

    def live_adds_collected(self) -> list:
        """The reconciled live ``add`` rows, computed ONCE per snapshot
        and cached. Every driver-side metadata consumer (scan planning,
        DV lookup, merge/delete commit building, checkpoints) shares
        this list. Metadata scale: one row per live file (the same list
        Delta itself plans scans from)."""
        if self._live_rows is None:
            self._live_rows = self._local_live()
        return self._live_rows

    def add_actions(self) -> DataFrame:
        """One row per live data file, stats parsed.

        Columns: ``path`` (URL-decoded, relative), ``partitionValues``
        (map<string,string>), ``size_bytes``, ``modification_time``
        (epoch millis, long), ``data_change``, ``num_records``, and a
        ``stats`` struct (minValues / maxValues / nullCount).
        Mirrors levi's flattened add-actions frame
        (``/root/reference/levi/__init__.py:14,57``).
        """
        live = self.live_adds_raw()
        meta = self.metadata
        sschema = stats_schema(meta.schema)
        if meta.column_mapping_mode != "none":
            # stats JSON is keyed by physical names: parse under them,
            # cast (positional) back to the logical-named struct
            phys_struct = T.StructType(
                [_physical_field(f) for f in meta.schema.fields]
            )
            stats_col = F.from_json(
                F.col("add.stats"), stats_schema(phys_struct)
            ).cast(sschema)
        else:
            stats_col = F.from_json(F.col("add.stats"), sschema)
        return (
            live.select(
                # URL-decoded path for filesystem access (Delta stores
                # URL-encoded relative paths, e.g. "data=%F0%9F%98%88/
                # part-...parquet"). Built-in url_decode stays JVM-side
                # (no Python worker round-trip), but it is form-decoding
                # ('+' -> space) while Delta paths are percent-encoded
                # ('+' literal) — pre-escape '+' so both agree with the
                # driver-side urllib.parse.unquote used in file_infos().
                F.url_decode(
                    F.replace(F.col("add.path"), F.lit("+"), F.lit("%2B"))
                ).alias("path"),
                F.col("add.partitionValues").alias("partitionValues"),
                F.col("add.size").alias("size_bytes"),
                F.col("add.modificationTime").alias("modification_time"),
                F.col("add.dataChange").alias("data_change"),
                stats_col.alias("stats"),
                F.col("add.deletionVector").alias("deletion_vector"),
                F.col("version").alias("commit_version"),
            )
            .withColumn("num_records", F.col("stats.numRecords"))
            .withColumn(
                "dv_cardinality",
                F.coalesce(F.col("deletion_vector.cardinality"), F.lit(0)),
            )
        )

    def add_actions_flat(self) -> DataFrame:
        """Flattened add actions with levi-compatible dotted column names
        (``min.<col>``, ``max.<col>``, ``null_count.<col>``) so that the
        predicate SQL emitted by ``filter_to_sql``
        (``/root/reference/levi/__init__.py:34-47``) evaluates verbatim
        via ``F.expr`` — backtick-quoted dotted identifiers resolve to
        these literal column names."""
        df = self.add_actions()
        mm = _leaf_paths(_minmax_schema(self.metadata.schema))
        nc = _leaf_paths(_nullcount_schema(self.metadata.schema))
        cols = [
            F.col("path"),
            F.col("partitionValues"),
            F.col("size_bytes"),
            F.col("modification_time"),
            F.col("data_change"),
            F.col("num_records"),
        ]
        cols += [F.col(f"stats.minValues.{p}").alias(f"min.{p}") for p in mm]
        cols += [F.col(f"stats.maxValues.{p}").alias(f"max.{p}") for p in mm]
        cols += [F.col(f"stats.nullCount.{p}").alias(f"null_count.{p}") for p in nc]
        return df.select(*cols)

    # ---- data plane --------------------------------------------------------

    def file_infos(self) -> list[tuple[str, dict[str, str | None]]]:
        """[(absolute file path, partitionValues)] — driver-side view of
        the (metadata-plane, small) live-file list for scan planning."""
        return [
            (
                join_path(self.log.table_path, unquote(r["add"]["path"])),
                dict(r["add"]["partitionValues"] or {}),
            )
            for r in self.live_adds_collected()
        ]

    def deletion_vector_rows(self) -> DataFrame:
        """(``__file_name``, ``__row_index``) of every logically deleted
        row in this snapshot: each live add's Delta-spec deletion
        vector ('u' relative UUID file / 'p' absolute path / 'i' inline
        z85, :mod:`levi_spark.delta.roaring`) decoded on the driver into
        one Arrow table — a ``LocalRelation`` under Spark's Arrow
        threshold, as :func:`local_frame` frames are. ``to_df``
        broadcasts this frame anyway, so every key reaches the driver
        either way; decoding there starts no job and no Python worker."""
        import numpy as np
        import pyarrow as pa

        from levi_spark.delta.roaring import decode_descriptor

        names: list[str] = []
        idxs: list[np.ndarray] = []
        for r in self.live_adds_collected():
            dv = r["add"]["deletionVector"]
            if dv is None or dv["pathOrInlineDv"] is None:
                continue
            vals = decode_descriptor(self.log.table_path, dv.asDict())
            names += [os.path.basename(unquote(r["add"]["path"]))] * len(vals)
            idxs.append(vals.astype(np.int64))
        table = pa.table(
            {
                "__file_name": pa.array(names, pa.string()),
                "__row_index": pa.array(
                    np.concatenate(idxs) if idxs else [], pa.int64()
                ),
            }
        )
        return self.spark.createDataFrame(
            table, "__file_name string, __row_index long"
        )

    def rewrite_df(
        self, paths: list[str] | None = None, with_lineage: bool = False
    ) -> DataFrame:
        """The rows of ``paths`` (default: every live file) in the shape
        a file rewrite hands to ``write_delta``: :meth:`to_df`'s columns
        and, on a row-tracked table, each row's current ``_row_id`` /
        ``_row_commit_version`` under the table's materialized column
        names. The writer stores those instead of minting new ids, so a
        row a rewrite only copies keeps its id and commit version."""
        mat = self.metadata.materialized_row_columns
        df = self.to_df(
            paths=paths, with_lineage=with_lineage, with_row_ids=mat is not None
        )
        if mat is None:
            return df
        return df.withColumnRenamed("_row_id", mat[0]).withColumnRenamed(
            "_row_commit_version", mat[1]
        )

    def to_df(
        self,
        paths: list[str] | None = None,
        with_lineage: bool = False,
        with_row_ids: bool = False,
    ) -> DataFrame:
        """Read the snapshot's data as a DataFrame. ``paths`` restricts
        the scan to those table-relative live files (layout operators
        rewrite subsets of a table without scanning the rest).

        Partition-column values live in the log, not in the parquet files
        — we join them back via the ``_metadata.file_name`` hidden column
        (broadcast join against the small file→partition-values frame;
        Delta part-file basenames embed a UUID so they are unique within
        a table, and — unlike full paths — need no URI-encoding
        normalization) and cast to the declared types, handling null
        partitions (``__HIVE_DEFAULT_PARTITION__`` → null in the log's
        map) and unicode/URL-escaped values uniformly.

        Rows tombstoned by deletion vectors (:mod:`levi_spark.delta.dv`)
        are dropped with an anti-join on (file, row_index) — the scan
        itself is untouched, so pushdown/pruning still apply, and the
        (small) DV frame rides a broadcast.

        ``with_lineage=True`` appends ``_file_name`` / ``_row_index``
        columns identifying each row's physical position — the key
        space deletion vectors address.

        ``with_row_ids=True`` appends ``_row_id`` /
        ``_row_commit_version`` from the table's ROW TRACKING metadata
        (writer feature ``rowTracking``): row id = the file's
        ``baseRowId`` + the row's position, commit version = the
        file's ``defaultRowCommitVersion`` — OVERRIDDEN per row by the
        table's materialized row-id / commit-version columns when a
        file carries them (the spec's preserved-id mechanism: OPTIMIZE
        rewrites stash each surviving row's prior id in the hidden
        physical column named by
        ``delta.rowTracking.materializedRowIdColumnName``). Ids are
        therefore stable under appends, DV deletes AND preserving
        rewrites; only true row modifications re-mint. Files without
        assigned ids yield nulls.
        """
        meta = self.metadata
        infos = self.file_infos()
        if paths is not None:
            # keep entries are decoded add paths — usually table-relative,
            # but absolute when the add came from a shallow clone. Rebase
            # them exactly the way file_infos() built ``p``
            # (join_path leaves an absolute or schemed second arg untouched),
            # both cases compare equal; a relpath()-based compare would
            # silently match nothing for absolute adds and a downstream
            # replace_paths rewrite would tombstone files it never read.
            keep = {join_path(self.log.table_path, k) for k in paths}
            infos = [(p, pv) for p, pv in infos if p in keep]
        out_cols = (
            list(meta.data_columns)
            + (["_file_name", "_row_index"] if with_lineage else [])
            + (["_row_id", "_row_commit_version"] if with_row_ids else [])
        )
        if not infos:
            schema = T.StructType(
                meta.schema.fields
                + (
                    [
                        T.StructField("_file_name", T.StringType()),
                        T.StructField("_row_index", T.LongType()),
                    ]
                    if with_lineage
                    else []
                )
                + (
                    [
                        T.StructField("_row_id", T.LongType()),
                        T.StructField("_row_commit_version", T.LongType()),
                    ]
                    if with_row_ids
                    else []
                )
            )
            return self.spark.createDataFrame([], schema)
        files = [p for p, _ in infos]
        names = [os.path.basename(p) for p in files]
        assert len(set(names)) == len(names), "non-unique data file basenames"
        has_dv = any(
            r["add"]["deletionVector"] is not None
            and r["add"]["deletionVector"]["pathOrInlineDv"] is not None
            for r in self.live_adds_collected()
        )
        phys = meta.physical_schema
        mat_id = mat_cv = None
        if with_row_ids:
            # materialized preserved-id columns: physical-only, read
            # when declared in table config (absent in a file -> null,
            # and the fresh baseRowId+position id wins via coalesce)
            conf = meta.configuration
            mat_id = conf.get("delta.rowTracking.materializedRowIdColumnName")
            mat_cv = conf.get(
                "delta.rowTracking.materializedRowCommitVersionColumnName"
            )
            extra = [
                T.StructField(c, T.LongType())
                for c in (mat_id, mat_cv)
                if c
            ]
            if extra:
                phys = T.StructType(list(phys.fields) + extra)
        if meta.column_mapping_mode == "id":
            # id-mode columns resolve by parquet field id; the session
            # factory already enables this, but a foreign session must
            # not silently fall back to name matching (sticky session
            # conf — harmless for schemas without field-id metadata)
            self.spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        df = (
            self.spark.read.schema(phys)
            .parquet(*files)
            .withColumn("__file_name", F.col("_metadata.file_name"))
            .withColumn("__row_index", F.col("_metadata.row_index"))
        )
        if has_dv:
            df = df.join(
                F.broadcast(self.deletion_vector_rows()),
                on=["__file_name", "__row_index"],
                how="left_anti",
            )
        lineage = [
            F.col("__file_name").alias("_file_name"),
            F.col("__row_index").alias("_row_index"),
        ]
        rid_cols: list = []
        if with_row_ids:
            rid_schema = T.StructType(
                [
                    T.StructField("__file_name", T.StringType()),
                    T.StructField("__base_row_id", T.LongType()),
                    T.StructField("__row_commit", T.LongType()),
                ]
            )
            rid_rows = [
                (
                    os.path.basename(unquote(r["add"]["path"])),
                    r["add"]["baseRowId"],
                    r["add"]["defaultRowCommitVersion"],
                )
                for r in self.live_adds_collected()
            ]
            df = df.join(
                F.broadcast(local_frame(self.spark, rid_rows, rid_schema)),
                on="__file_name",
                how="left",
            )
            fresh_id = F.col("__base_row_id") + F.col("__row_index")
            fresh_cv = F.col("__row_commit")
            rid_cols = [
                (
                    F.coalesce(F.col(mat_id), fresh_id) if mat_id else fresh_id
                ).alias("_row_id"),
                (
                    F.coalesce(F.col(mat_cv), fresh_cv) if mat_cv else fresh_cv
                ).alias("_row_commit_version"),
            ]
        by_name = {f.name: f for f in meta.schema.fields}
        phys_names = meta.physical_names
        part_set = set(meta.partition_columns)
        if meta.column_mapping_mode == "none":
            data_sel = [F.col(c) for c in meta.data_columns if c not in part_set]
        else:
            # physical-name scan -> logical rename; the cast renames
            # NESTED struct fields too (cast is by position)
            data_sel = [
                F.col(phys_names[c]).cast(by_name[c].dataType).alias(c)
                for c in meta.data_columns
                if c not in part_set
            ]
        if not meta.partition_columns:
            return df.select(
                *data_sel,
                *(lineage if with_lineage else []),
                *rid_cols,
            )
        pv_schema = T.StructType(
            [
                T.StructField("__file_name", T.StringType()),
                T.StructField("__pv", T.MapType(T.StringType(), T.StringType())),
            ]
        )
        pv_df = local_frame(
            self.spark, [(os.path.basename(p), pv) for p, pv in infos], pv_schema
        )
        joined = df.join(F.broadcast(pv_df), on="__file_name", how="left")
        part_cols = [
            # the log's partitionValues map is keyed by PHYSICAL name
            F.col("__pv").getItem(phys_names[c]).cast(by_name[c].dataType).alias(c)
            for c in meta.partition_columns
        ]
        return joined.select(
            *data_sel,
            *part_cols,
            *lineage,
            *rid_cols,
        ).select(*out_cols)
