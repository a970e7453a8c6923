"""General MERGE: the engine's native equivalent of delta-rs MERGE.

MERGE is the reference's core mutation primitive — ``kill_duplicates``
and ``type_2_scd_upsert`` are both thin stagings over
``delta_table.merge(...).when_matched_delete / when_not_matched_insert /
when_matched_update`` (``/root/reference/levi/__init__.py:155-166,
274-295``). Here ``type_2_scd_upsert`` stages its source the same way
and runs through this builder (:mod:`levi_spark.operators.scd`);
``kill_duplicates`` needs no source and is a loser-set rewrite like the
other dedup verbs (:mod:`levi_spark.operators.dedup`). The builder is
general, so any user merge the reference could express runs here too:

    (MergeBuilder(table, source, "t.pk = s.pk")
        .when_matched_update(condition="t.v <> s.v", set={"v": "s.v"})
        .when_matched_delete(condition="s.tombstone")
        .when_not_matched_insert(values={"pk": "s.pk", "v": "s.v"})
        .execute())

Semantics follow the public Delta MERGE contract:

* clauses apply in declaration order — the first WHEN MATCHED clause
  whose condition holds wins for a given target row;
* a target row matched by MORE THAN ONE source row while any matched
  clause exists raises ``ValueError`` (Delta's duplicate-match error) —
  a nondeterministic update is never silently applied;
* unmatched source rows take the first applicable WHEN NOT MATCHED
  clause; rows satisfying none are dropped.

Scale design (how this differs from "rewrite the table"):

1. One inner join finds the set of *touched files* (distinct
   ``_metadata.file_name`` of matched target rows) — output is
   metadata-sized (bounded by file count), the join itself is the same
   shuffle Delta's own MERGE pays.
2. Only touched files are re-read and rewritten; the merge outputs
   (kept + updated rows of touched files, plus all inserts) replace
   exactly those files in one atomic commit
   (``write_delta(replace_paths=...)``). Untouched files — at 100 TB,
   almost all of them — keep their stats, layout, and history.
3. An insert-only merge (no matched clauses) skips the rewrite
   entirely and degenerates to an anti-join append.
"""

from __future__ import annotations

import functools
import operator
import os

from urllib.parse import unquote

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from levi_spark.delta.table import LeviTable
from levi_spark.delta.writer import write_delta

_MARKER = "__s_present"


def _as_col(e: str | Column) -> Column:
    return F.expr(e) if isinstance(e, str) else e


class MergeBuilder:
    def __init__(self, table: LeviTable, source: DataFrame, condition: str | Column):
        self.table = table
        self.source = source
        self.condition = condition
        self._matched: list[tuple[str, Column | None, dict | None]] = []
        self._not_matched: list[tuple[Column | None, dict]] = []
        self._evolve = False

    def with_schema_evolution(self) -> "MergeBuilder":
        """delta-spark's ``withSchemaEvolution()``: assignments to
        columns the target doesn't have yet ADD those columns (the
        commit's metaData carries the union schema via mergeSchema;
        untouched files read the new columns back as null). Without
        this flag such assignments raise — silently dropping them
        would corrupt the merge's declared intent."""
        self._evolve = True
        return self

    def when_matched_update(
        self, set: dict[str, str | Column], condition: str | Column | None = None
    ) -> "MergeBuilder":
        self._matched.append(
            ("update", _as_col(condition) if condition is not None else None,
             {k: _as_col(v) for k, v in set.items()})
        )
        return self

    def when_matched_delete(
        self, condition: str | Column | None = None
    ) -> "MergeBuilder":
        self._matched.append(
            ("delete", _as_col(condition) if condition is not None else None, None)
        )
        return self

    def when_not_matched_insert(
        self, values: dict[str, str | Column], condition: str | Column | None = None
    ) -> "MergeBuilder":
        self._not_matched.append(
            (_as_col(condition) if condition is not None else None,
             {k: _as_col(v) for k, v in values.items()})
        )
        return self

    # ------------------------------------------------------------------

    def execute(
        self,
        emit_cdf: bool = False,
        txn: tuple[str, int] | None = None,
        materialize_source: bool = True,
    ) -> dict:
        """Run the merge; returns {"version", "files_rewritten"}
        (version -1 for an observable no-op).

        ``txn=(app_id, source_version)`` records a SetTransaction in the
        same commit (see :func:`levi_spark.delta.writer.write_delta`) —
        the idempotence hook for incremental maintainers.

        ``emit_cdf=True`` additionally records row-level change data in
        the same commit (``_change_data/`` files + ``cdc`` actions):
        ``update_preimage``/``update_postimage`` for rows taking an
        update clause (emitted even when the new values equal the old —
        no no-op suppression, matching Delta), ``delete`` for delete
        clauses, ``insert`` for not-matched inserts. Read back with
        :func:`levi_spark.delta.changes.table_changes_cdf`.

        ``materialize_source``: a merge consumes its source in several
        passes (touched-file discovery, the duplicate-match guard, the
        rewrite, each CDF image, the insert anti-join) — left lazy, the
        whole source lineage recomputes per pass, and a nondeterministic
        source could even change between them. Materialized
        (``localCheckpoint``) it computes ONCE — Delta's own MERGE does
        the same. Disable only for a trivially-rescannable source (a
        bare table scan)."""
        if not self._matched and not self._not_matched:
            raise ValueError("MERGE needs at least one WHEN clause")
        snap = self.table.snapshot()
        part_cols = list(snap.metadata.partition_columns)
        data_cols = list(snap.metadata.data_columns)
        assigned: list[str] = []
        for _kind, _c, sets in self._matched:
            for c in sets or {}:
                if c not in assigned:
                    assigned.append(c)
        for _c, values in self._not_matched:
            for c in values:
                if c not in assigned:
                    assigned.append(c)
        new_cols = [c for c in assigned if c not in data_cols]
        if new_cols and not self._evolve:
            raise ValueError(
                f"MERGE assigns to column(s) not in the target schema: "
                f"{new_cols}; call with_schema_evolution() to add them"
            )
        all_cols = data_cols + new_cols
        # Generated columns the merge does NOT explicitly assign are
        # recomputed from their generation expression over the
        # POST-merge row values (Delta's MERGE semantics) — otherwise
        # an insert would null-fill them and an update that changes a
        # generation-source column would carry the stale value, and the
        # writer's generation invariant would abort the whole merge.
        gen_recompute = {
            f.name: (f.metadata or {}).get("delta.generationExpression")
            for f in snap.metadata.schema.fields
            if (f.metadata or {}).get("delta.generationExpression")
            and f.name not in assigned
        }
        cond = _as_col(self.condition)
        src = self.source.withColumn(_MARKER, F.lit(1))
        if materialize_source:
            src = src.localCheckpoint(eager=True)
        src = src.alias("s")
        cdc_parts: list[DataFrame] = []

        # Row tracking: the rewrite reads touched files through
        # Snapshot.rewrite_df, so copied rows keep their id and commit
        # version; updated rows re-stamp the version (null materialized
        # value -> the rewrite commit's default, i.e. "last modified
        # here"); inserts mint fresh ids.
        rt_mat = snap.metadata.materialized_row_columns
        # Identity columns: rewritten rows pass their existing values
        # through; INSERT branches must not assign a GENERATED ALWAYS
        # column, and unassigned identity columns get system values
        # minted beyond the persisted high water mark.
        from levi_spark.delta.writer import (
            _identity_specs_from_schema,
            identity_values,
        )

        id_specs = _identity_specs_from_schema(snap.metadata.schema)

        rewritten = None
        touched_rels: list[str] = []
        if self._matched:
            target = snap.to_df(with_lineage=True).alias("t")
            # A file is touched only when some clause can actually APPLY
            # to one of its matched rows — a match whose every clause
            # condition is false leaves the row byte-identical, so
            # rewriting its file would be pure write amplification (at
            # 100 TB, the difference between "rewrite changed files" and
            # "rewrite every file a source row merely joins").
            any_clause = functools.reduce(
                operator.or_,
                [
                    (ccond if ccond is not None else F.lit(True))
                    for _kind, ccond, _set in self._matched
                ],
            )
            # ONE aggregation pass answers both planning questions:
            # which files hold an applicable match (touched set), and
            # does any target row in them match >1 source row (the
            # duplicate-match guard Delta also enforces)
            per_file = (
                target.join(src, cond, "inner")
                .groupBy(
                    F.col("t._file_name").alias("__fn"),
                    F.col("t._row_index").alias("__ri"),
                )
                .agg(
                    F.count(F.lit(1)).alias("__n"),
                    F.max(F.when(any_clause, 1).otherwise(0)).alias("__app"),
                )
                .groupBy("__fn")
                .agg(F.max("__n").alias("__maxn"), F.max("__app").alias("__app"))
                .collect()
            )
            touched_names = {r["__fn"] for r in per_file if r["__app"] == 1}
            # r13: live file paths come from the snapshot's cached
            # driver-side log replay (live_adds_collected) instead of a
            # one-job Spark collect; unquote matches add_actions'
            # percent-decode ('+' stays literal, like file_infos)
            all_rels = [
                unquote(r["add"]["path"])
                for r in snap.live_adds_collected()
            ]
            touched_rels = [
                p for p in all_rels if os.path.basename(p) in touched_names
            ]
            if touched_rels:
                if any(
                    r["__maxn"] > 1 for r in per_file if r["__fn"] in touched_names
                ):
                    raise ValueError(
                        "MERGE: a target row matches multiple source rows"
                    )
                sub = snap.rewrite_df(
                    paths=touched_rels, with_lineage=True
                ).alias("t")
                joined = sub.join(src, cond, "left_outer")
                matched = F.col(_MARKER).isNotNull()
                # first-applicable-clause resolution, in declaration order
                seen = F.lit(False)
                applicable: list[Column] = []
                for _kind, ccond, _set in self._matched:
                    this = matched & (ccond if ccond is not None else F.lit(True)) & ~seen
                    applicable.append(this)
                    seen = seen | this
                keep = functools.reduce(
                    operator.and_,
                    [
                        ~app
                        for (kind, _c, _s), app in zip(self._matched, applicable)
                        if kind == "delete"
                    ],
                    F.lit(True),
                )
                types = {f.name: f.dataType for f in snap.metadata.schema.fields}
                out_cols = []
                for c in all_cols:
                    # evolution columns don't exist in the target files;
                    # they start null and take whatever an update sets
                    val = F.col(f"t.{c}") if c in types else F.lit(None)
                    for (kind, _c, sets), app in zip(self._matched, applicable):
                        if kind == "update" and c in sets:
                            val = F.when(app, sets[c]).otherwise(val)
                    # update exprs may carry a different source type; the
                    # table schema, not the expression, owns the column type
                    out_cols.append(
                        val.cast(types[c]).alias(c) if c in types else val.alias(c)
                    )
                # One select materializes the updated values (aliased to
                # their bare names — required so generation expressions
                # resolve unambiguously against POST-update values, not
                # the t/s join), plus the originals and clause flags the
                # CDF images need.
                carry_cols = list(out_cols)
                carry_cols.append(keep.alias("__keep"))
                if rt_mat is not None:
                    upd_any = functools.reduce(
                        operator.or_,
                        [
                            app
                            for (kind, _c, _s), app in zip(
                                self._matched, applicable
                            )
                            if kind == "update"
                        ],
                        F.lit(False),
                    )
                    carry_cols.append(F.col(f"t.{rt_mat[0]}"))
                    carry_cols.append(
                        F.when(upd_any, F.lit(None))
                        .otherwise(F.col(f"t.{rt_mat[1]}"))
                        .cast("long")
                        .alias(rt_mat[1])
                    )
                if emit_cdf:
                    carry_cols += [
                        F.col(f"t.{c}").cast(types[c]).alias(f"__orig_{c}")
                        for c in data_cols
                    ]
                    carry_cols += [
                        app.alias(f"__app_{i}")
                        for i, app in enumerate(applicable)
                    ]
                carry = joined.select(*carry_cols)
                for g, e in gen_recompute.items():
                    carry = carry.withColumn(g, F.expr(e).cast(types[g]))
                rewritten = carry.where(F.col("__keep")).select(
                    *all_cols,
                    *(rt_mat or ()),
                )
                if emit_cdf:
                    # preimages null-fill evolution columns, typed to the
                    # post-merge resolution so the CDF structs align
                    new_types = dict(rewritten.dtypes)
                    orig_cols = [
                        F.col(f"__orig_{c}").alias(c) for c in data_cols
                    ] + [
                        F.lit(None).cast(new_types[c]).alias(c) for c in new_cols
                    ]
                    post_cols = [F.col(c).alias(c) for c in all_cols]
                    upd = [
                        F.col(f"__app_{i}")
                        for i, (kind, _c, _s) in enumerate(self._matched)
                        if kind == "update"
                    ]
                    dele = [
                        F.col(f"__app_{i}")
                        for i, (kind, _c, _s) in enumerate(self._matched)
                        if kind == "delete"
                    ]
                    # all matched-side images in ONE scan of the join:
                    # each row yields an array of per-image structs
                    # (null when its clause doesn't fire), exploded
                    # after a null-filter — instead of one full join
                    # recompute per image kind
                    imgs = []
                    if upd:
                        u = functools.reduce(operator.or_, upd)
                        imgs.append(
                            F.when(
                                u,
                                F.struct(
                                    *orig_cols,
                                    F.lit("update_preimage").alias("_change_type"),
                                ),
                            )
                        )
                        imgs.append(
                            F.when(
                                u,
                                F.struct(
                                    *post_cols,
                                    F.lit("update_postimage").alias("_change_type"),
                                ),
                            )
                        )
                    if dele:
                        d = functools.reduce(operator.or_, dele)
                        imgs.append(
                            F.when(
                                d,
                                F.struct(
                                    *orig_cols,
                                    F.lit("delete").alias("_change_type"),
                                ),
                            )
                        )
                    if imgs:
                        cdc_parts.append(
                            carry.select(F.array(*imgs).alias("__imgs"))
                            .select(
                                F.explode(
                                    F.expr("filter(__imgs, x -> x is not null)")
                                ).alias("__c")
                            )
                            .select("__c.*")
                        )

        inserts = None
        if self._not_matched:
            target_keys = snap.to_df().alias("t")
            unmatched = src.join(target_keys, cond, "left_anti")
            seen = F.lit(False)
            branches = []
            for ccond, values in self._not_matched:
                this = (ccond if ccond is not None else F.lit(True)) & ~seen
                branches.append((this, values))
                seen = seen | this
            any_clause = functools.reduce(
                operator.or_, [b for b, _ in branches]
            )
            unmatched = unmatched.where(any_clause)
            ins_types = {f.name: f.dataType for f in snap.metadata.schema.fields}
            out_cols = []
            for c in all_cols:
                val = F.lit(None)
                for app, values in branches:
                    if c in values:
                        val = F.when(app, values[c]).otherwise(val)
                out_cols.append(
                    val.cast(ins_types[c]).alias(c)
                    if c in ins_types
                    else val.alias(c)
                )
            inserts = unmatched.select(*out_cols)
            for g, e in gen_recompute.items():
                inserts = inserts.withColumn(g, F.expr(e).cast(ins_types[g]))
            assigned_ids = {
                c for _b, values in branches for c in values if c in id_specs
            }
            for c in assigned_ids:
                if not id_specs[c]["allow"]:
                    raise ValueError(
                        f"identity column '{c}' is GENERATED ALWAYS — "
                        "MERGE INSERT cannot assign it"
                    )
            for c, spec in id_specs.items():
                if c not in assigned_ids:
                    inserts = inserts.withColumn(c, identity_values(spec))
            if emit_cdf:
                cdc_parts.append(
                    inserts.withColumn("_change_type", F.lit("insert"))
                )

        if rewritten is not None and inserts is not None:
            # preserved-id columns exist only on the rewritten side;
            # inserts null-fill them and mint fresh ids
            out = rewritten.unionByName(inserts, allowMissingColumns=True)
        elif rewritten is not None:
            out = rewritten
        elif inserts is not None:
            out = inserts
        else:
            return {"version": -1, "files_rewritten": 0}
        if not touched_rels and rewritten is None:
            # nothing to rewrite — commit only if there is something to
            # insert (an all-noop merge must not burn a table version)
            if inserts.limit(1).count() == 0:
                return {"version": -1, "files_rewritten": 0}

        cdc_df = None
        if emit_cdf and cdc_parts:
            cdc_df = functools.reduce(lambda a, b: a.unionByName(b), cdc_parts)
        version = write_delta(
            out,
            self.table.path,
            mode="append",
            partition_by=part_cols,
            replace_paths=touched_rels or None,
            operation="MERGE",
            cdc_df=cdc_df,
            txn=txn,
            merge_schema=bool(new_cols),
            identity_passthrough=True,  # rewrite carries existing ids
        )
        return {
            "version": version,
            "files_rewritten": len(touched_rels),
        }


def merge(table: LeviTable, source: DataFrame, condition: str | Column) -> MergeBuilder:
    """Entry point mirroring ``DeltaTable.merge(source, condition)``."""
    return MergeBuilder(table, source, condition)
