"""Drop-in surface for users of the reference library.

The reference exposes a flat module of 12 public functions
(`/root/reference/levi/__init__.py`); this module re-exports the
engine's implementations under the same names, so

    import levi  ->  from levi_spark import api as levi

is the whole migration. Tables are :class:`levi_spark.delta.table.
LeviTable` (``LeviTable.for_path(spark, path)``) where the reference
takes a ``deltalake.DeltaTable``; updates frames may be any
``__dataframe__``-protocol object (pandas, pyarrow, ...) exactly like
the reference (``levi/__init__.py:9,171,224``). The three dedup
verbs (``kill_duplicates``, ``drop_duplicates``,
``drop_duplicates_pkey``) each return their file-targeted rewrite's
report ``{"files_rewritten", "files_total", "rows_deleted",
"version"}`` (version -1 when nothing was deleted).

| reference (levi/__init__.py) | here |
|---|---|
| ``skipped_stats``        :13  | operators.metadata.skipped_stats |
| ``filter_to_sql``        :34  | operators.metadata.filter_to_sql |
| ``filters_to_sql``       :49  | operators.metadata.filters_to_sql |
| ``latest_version``       :55  | operators.metadata.latest_version |
| ``delta_file_sizes``     :60  | operators.metadata.delta_file_sizes |
| ``str_to_bytes``         :78  | functions.units.str_to_bytes |
| ``boundary_parser``      :90  | functions.units.boundary_parser |
| ``updated_partitions``   :105 | operators.metadata.updated_partitions |
| ``kill_duplicates``      :126 | operators.dedup.kill_duplicates |
| ``type_2_scd_upsert``    :169 | operators.scd.type_2_scd_upsert |
| ``drop_duplicates``      :298 | operators.dedup.drop_duplicates |
| ``drop_duplicates_pkey`` :352 | operators.dedup.drop_duplicates_pkey |
"""

from __future__ import annotations

from levi_spark.delta.table import LeviTable
from levi_spark.functions.units import boundary_parser, str_to_bytes
from levi_spark.operators.dedup import (
    drop_duplicates,
    drop_duplicates_pkey,
    kill_duplicates,
)
from levi_spark.operators.metadata import (
    delta_file_sizes,
    filter_to_sql,
    filters_to_sql,
    latest_version,
    skipped_stats,
    updated_partitions,
)
from levi_spark.operators.scd import type_2_scd_upsert

__all__ = [
    "LeviTable",
    "boundary_parser",
    "delta_file_sizes",
    "drop_duplicates",
    "drop_duplicates_pkey",
    "filter_to_sql",
    "filters_to_sql",
    "kill_duplicates",
    "latest_version",
    "skipped_stats",
    "str_to_bytes",
    "type_2_scd_upsert",
    "updated_partitions",
]
