"""Load engine — two-phase FK-cycle-breaking replay with an ID-map.

Re-expresses the reference's load pipeline
(`/root/reference/amaxa/amaxa.py:262-528`) Spark-first:

- the global old→new ID map (`amaxa/amaxa.py:243-260`) is a 2-column
  DataFrame per table, joined into every FK rewrite (J4) — broadcast
  only under a counted size gate, shuffle hash-join above it,
- stage INSERTS: per step in topological (list) order — read input →
  resume-filter (P7, ``left_anti`` vs the ID map) → rename+transforms
  (F6, F1-F5) → drop dependent/self FK columns (P6) → rewrite
  descendent FKs through the map (J4, with include/drop-field/error
  outside behaviors) → primitivize (F7) → synthesize deterministic new
  IDs → write,
- stage DEPENDENTS: per step — re-read input, project PK +
  dependent/self FKs (P6b), rewrite all through the map, keep rows
  with ≥1 mapped FK (P8), and merge the FK columns into the written
  table (join-and-replace — the Delta-less MERGE),
- per-row errors accumulate as DataFrames (never exceptions inside
  executors), matching the result-file semantics (S8).

Scale notes: ID maps are narrow (old,new) frames — AQE broadcasts them
when small; when huge they hash-join on the FK, which is the right
plan. New-ID synthesis is a pure column expression (hash of
table+old id) — deterministic, distributed, no driver round-trip, no
window over a global ordering.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field as dc_field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from amaxa_spark.functions.scalars import primitivize
from amaxa_spark.functions.transforms import apply_transforms, rename_columns
from amaxa_spark.metadata import SchemaRegistry
from amaxa_spark.plans.plan import (
    LoadStepPlan,
    OutsideLookupBehavior,
    bad_lookup_behavior_error,
)
from amaxa_spark.sources.catalog import TableCatalog

log = logging.getLogger(__name__)

# The old→new ID map has one row per loaded record — at 100 TB it is the
# size of the loaded table, so a forced broadcast is a driver/executor
# OOM. Broadcast only under a counted threshold (counts are nearly free
# on the localCheckpoint'ed map frames); above it, fall through to a
# plain join and let AQE pick the strategy from real sizes. Mirrors the
# counted gates in graph.pointer_roots and dedup.cluster_duplicates.
_BROADCAST_MAP_MAX = 2_000_000


class LoadError(RuntimeError):
    pass


def synthesize_new_id(table: str, old_col: F.Column) -> F.Column:
    """Deterministic new-ID synthesis for table sinks: where the
    reference harvests server-assigned IDs from Bulk-API results
    (`amaxa/amaxa.py:444-454`), a file-backed target derives them as a
    content hash — distributed, reproducible across resumes."""
    return F.upper(
        F.substring(F.sha2(F.concat(F.lit(table + ":"), old_col.cast("string")), 256), 1, 18)
    )


@dataclass
class LoadResult:
    id_map: dict[str, DataFrame] = dc_field(default_factory=dict)  # table -> (old_id,new_id)
    errors: dict[str, DataFrame] = dc_field(default_factory=dict)  # table -> (old_id,error)
    written: dict[str, DataFrame] = dc_field(default_factory=dict)  # table -> loaded rows


class LoadOperation:
    def __init__(
        self,
        spark: SparkSession,
        registry: SchemaRegistry,
        steps: list[LoadStepPlan],
        inputs: dict[str, DataFrame] | TableCatalog,
        prior_id_map: dict[str, DataFrame] | None = None,
        start_stage: str = "inserts",
    ):
        self.spark = spark
        self.registry = registry
        self.steps = steps
        self.inputs = inputs
        self.step_order = [s.table for s in steps]
        # classify only registered tables — an unknown sObject must
        # surface as validate()'s reference-parity error, not a
        # KeyError at plan-build time (mirrors ExtractOperation)
        self.classification = registry.classify_lookups(
            [t for t in self.step_order if t in registry]
        )
        self.result = LoadResult(id_map=dict(prior_id_map or {}))
        self.start_stage = start_stage
        # per-table ID-map row counts, maintained as maps are built so
        # the broadcast gate never re-counts un-checkpointed lineage
        self._map_counts: dict[str, int] = {}

    # ------------------------------------------------------------------
    def validate(self) -> list[str]:
        """Check-only pass (reference ``-k/--check-only``,
        `amaxa/__main__.py:30`): every validation that can run without
        executing — unknown tables, missing PK columns, strict-mode
        input/scope mismatches — reported as one error list; nothing
        is read beyond input headers and nothing is written."""
        errors: list[str] = []
        for step in self.steps:
            if step.table not in self.registry:
                # string mirrors `loader/core.py:267-270` with the
                # load-side permission (`loader/load_operation.py:13`)
                errors.append(
                    f"sObject {step.table} does not exist or does not "
                    "have the correct permission (createable)"
                )
                continue
            try:
                df = self._input(step)
                df.columns  # force schema resolution (CSV header read)
            except Exception as e:
                # a missing/unreadable input joins the error list — the
                # check-only contract is ONE report, never a traceback
                msg = (str(e).splitlines() or ["<no message>"])[0][:160]
                errors.append(f"{step.table}: cannot open input: {msg}")
                continue
            # mirror _prepared exactly (check-only must PREDICT run
            # behavior): rename through column_map first, expand
            # field-groups, then column-set checks on the renamed view
            df, _, scope_errors = self._checked_scope(step, df)
            pk = self.registry[step.table].pk
            if pk not in df.columns:
                errors.append(f"{step.table}: primary key {pk!r} not in input")
            errors.extend(scope_errors)
            # lookup-behavior validity (`loader/core.py:272-289`): an
            # outside-lookup behavior configured on a SELF lookup is
            # invalid — string parity with _validate_lookup_behaviors
            cls = self.classification.get(step.table)
            if cls is not None:
                for f, beh in step.outside_lookup_behavior.items():
                    if f != "*" and f in cls.self_lookups:
                        errors.append(
                            bad_lookup_behavior_error(beh.value, step.table, f)
                        )
        return errors

    def _checked_scope(
        self, step: LoadStepPlan, df: DataFrame
    ) -> tuple[DataFrame, list[str] | None, list[str]]:
        """Shared column-set validation for :meth:`validate` and
        :meth:`_prepared` — ONE implementation so check-only reports
        exactly the errors run() would raise. Returns the
        column_map-renamed frame, the resolved field scope (explicit
        ``fields`` or field-group expansion, exclusions applied; None =
        whole row), and the reference-parity error strings
        (`/root/reference/amaxa/loader/load_operation.py:151-208`)."""
        if step.column_map:
            df = rename_columns(df, step.column_map)
        meta = self.registry[step.table]
        pk = meta.pk
        errors: list[str] = []
        fields = step.fields
        if fields is None and step.field_group is not None:
            from amaxa_spark.metadata import expand_field_group

            fields = expand_field_group(meta, df.columns, step.field_group)
            if step.input_validation == "default":
                # DEFAULT-mode field-group rule (`loader/
                # load_operation.py:175-197`): the input may OMIT
                # columns but never carry columns outside the group
                # scope — and for the 'smart' group the comparand is
                # the READABLE set (the file was likely pulled with
                # smart == readable), not the writeable expansion.
                # Strict-mode group validation falls through to the
                # 1:1 scope comparison below, exactly like the
                # reference's else-branch — ONE error per case.
                comparand = (
                    expand_field_group(meta, df.columns, "readable")
                    if step.field_group == "smart"
                    else fields
                )
                excess = sorted(set(df.columns) - set(comparand) - {pk})
                if excess:
                    errors.append(
                        "Input file for sObject {} contains excess "
                        "columns over field group '{}': {}".format(
                            step.table, step.field_group, ", ".join(excess)
                        )
                    )
        if fields is not None:
            fields = [c for c in fields if c not in set(step.exclude_fields)]
            if step.input_validation == "strict":
                # strict = file columns and field scope 1:1 (the pk is
                # outside the comparison, as the reference removes
                # "Id" from the file set); string byte-mirrors
                # `loader/load_operation.py:198-208`
                scope = set(fields) - {pk}
                file_set = set(df.columns) - {pk}
                if scope != file_set:
                    errors.append(
                        "Input file for sObject {} does not match "
                        "specified field scope.\nScope: {}\nFile "
                        "Columns: {}\n".format(
                            step.table,
                            ", ".join(sorted(scope)),
                            ", ".join(sorted(file_set)),
                        )
                    )
        return df, fields, errors

    def _input(self, step: LoadStepPlan) -> DataFrame:
        if step.input_path is not None:
            # reference parity: a step's `file:` key names its CSV
            # input (`amaxa/loader/load_operation.py:83-101`) — header
            # row, all-string columns, exactly like the CSV catalog
            return self.spark.read.option("header", True).csv(step.input_path)
        return self.inputs[step.table]

    def _prepared(self, step: LoadStepPlan) -> DataFrame:
        """Input → renamed → transformed → scope-trimmed rows (P5).

        input-validation modes (`amaxa/loader/load_operation.py:
        151-208`): none = no checks; default = warn on out-of-scope
        input columns (projected away; the reference errors here — the
        softer mode is documented in MIGRATION.md) and error on
        field-group excess; strict = input must cover the scope
        exactly. Error strings come from :meth:`_checked_scope` and
        byte-match the reference's."""
        df, fields, scope_errors = self._checked_scope(step, self._input(step))
        if scope_errors:
            raise LoadError("\n".join(scope_errors))
        pk = self.registry[step.table].pk
        if pk not in df.columns:
            raise LoadError(f"{step.table}: primary key {pk!r} not in input")
        if step.transforms:
            df = apply_transforms(
                df, step.transforms, types=self.registry[step.table].types
            )
        if fields is not None:
            cols = list(dict.fromkeys([pk, *fields]))
            extra = [c for c in df.columns if c not in cols]
            if step.input_validation == "default" and extra:
                log.warning(
                    "%s: ignoring out-of-scope input columns %s", step.table, extra
                )
            df = df.select(*[c for c in cols if c in df.columns])
        elif step.exclude_fields:
            df = df.drop(*[c for c in step.exclude_fields if c != pk])
        return df

    def _map_for(self, table: str) -> DataFrame | None:
        return self.result.id_map.get(table)

    def _map_count(self, table: str) -> int:
        """Row count of a table's ID map; counted once (the map frames
        are localCheckpoint'ed, so the count is a cheap scan)."""
        if table not in self._map_counts:
            m = self._map_for(table)
            self._map_counts[table] = 0 if m is None else m.count()
        return self._map_counts[table]

    def _combined_map(self, tables: list[str]) -> tuple[DataFrame | None, int]:
        frames = [self._map_for(t) for t in tables if self._map_for(t) is not None]
        if not frames:
            return None, 0
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        n = sum(self._map_count(t) for t in tables if self._map_for(t) is not None)
        return out, n

    def _rewrite_fk(
        self,
        df: DataFrame,
        col: str,
        id_map: DataFrame | None,
        behavior: OutsideLookupBehavior,
        errors: list[DataFrame],
        pk: str,
        map_rows: int = 0,
    ) -> DataFrame:
        """J4: FK old→new through the ID map (broadcast only under the
        counted `_BROADCAST_MAP_MAX` gate) with fallback per
        outside-lookup behavior (`amaxa/amaxa.py:321-347`).
        Empty-string lookups short-circuit to null
        (`amaxa/amaxa.py:322-323`)."""
        cleaned = F.nullif(F.col(col).cast("string"), F.lit(""))
        if id_map is None:
            return df.withColumn(col, cleaned if behavior is not OutsideLookupBehavior.DROP_FIELD else F.lit(None).cast("string"))
        m = id_map.select(
            F.col("old_id").alias("__m_old"), F.col("new_id").alias("__m_new")
        )
        if map_rows <= _BROADCAST_MAP_MAX:
            m = F.broadcast(m)
        joined = df.withColumn("__fk", cleaned).join(
            m, F.col("__fk") == F.col("__m_old"), "left_outer"
        )
        unmapped = F.col("__fk").isNotNull() & F.col("__m_new").isNull()
        if behavior is OutsideLookupBehavior.ERROR:
            bad = joined.where(unmapped).select(
                F.col(pk).cast("string").alias("old_id"),
                F.lit(f"unmapped reference in {col}").alias("error"),
            )
            errors.append(bad)
            joined = joined.where(~unmapped)
            out_val = F.col("__m_new")
        elif behavior is OutsideLookupBehavior.DROP_FIELD:
            out_val = F.col("__m_new")  # unmapped → null
        else:  # INCLUDE: keep the original value when unmapped
            out_val = F.coalesce(F.col("__m_new"), F.col("__fk"))
        return joined.withColumn(col, out_val).drop("__fk", "__m_old", "__m_new")

    # ------------------------------------------------------------------
    def _insert_step(self, step: LoadStepPlan) -> None:
        table = step.table
        meta = self.registry[table]
        pk = meta.pk
        cls = self.classification[table]
        df = self._prepared(step)

        # P7: resume filter — skip records already mapped
        prior = self._map_for(table)
        if prior is not None:
            df = df.join(
                prior.select(F.col("old_id")),
                df[pk].cast("string") == F.col("old_id"),
                "left_anti",
            )

        # P6: drop dependent + self lookup columns for the insert pass
        deferred = sorted((cls.dependent_lookups | cls.self_lookups) & set(df.columns))
        insert_df = df.drop(*deferred)

        # J4: rewrite descendent FKs through the (already-populated) map
        errors: list[DataFrame] = []
        for col in sorted(cls.descendent_lookups & set(insert_df.columns)):
            targets = [t for t in meta.lookups[col] if t in self.step_order]
            id_map, map_rows = self._combined_map(targets)
            insert_df = self._rewrite_fk(
                insert_df, col, id_map, step.outside_behavior_for(col), errors, pk,
                map_rows,
            )

        # F7: schema-driven primitivize. A non-null input that coerces
        # to null is a per-row conversion error: the row is excluded
        # and recorded, mirroring the reference's row-level load errors
        # (`amaxa/amaxa.py:425-433`)
        if meta.types:
            # only value-parsing types can *fail* conversion; strings
            # always succeed and unknown/compound types null silently
            # (`amaxa/amaxa.py:372`)
            _COERCIBLE = {
                "boolean", "xsd:boolean", "int", "xsd:int", "double",
                "currency", "percent", "xsd:double", "date", "xsd:date",
                "datetime", "xsd:datetime",
            }
            typed = [
                c
                for c in insert_df.columns
                if meta.types.get(c, "").lower() in _COERCIBLE
            ]
            fail = None
            for c in typed:
                bad_c = F.col(c).cast("string").isNotNull() & (
                    F.trim(F.col(c).cast("string")) != ""
                ) & primitivize(F.col(c), meta.types[c]).isNull()
                fail = bad_c if fail is None else (fail | bad_c)
            if fail is not None:
                bad_rows = insert_df.where(fail).select(
                    F.col(pk).cast("string").alias("old_id"),
                    F.lit("value could not be converted to the target type").alias(
                        "error"
                    ),
                )
                errors.append(bad_rows)
                insert_df = insert_df.where(~F.coalesce(fail, F.lit(False)))
            insert_df = insert_df.select(
                *[
                    primitivize(F.col(c), meta.types[c]).alias(c)
                    if c in meta.types
                    else F.col(c)
                    for c in insert_df.columns
                ]
            )

        # synthesize new IDs; record the map
        new_id = synthesize_new_id(table, F.col(pk))
        step_map = insert_df.select(
            F.col(pk).cast("string").alias("old_id"), new_id.alias("new_id")
        )
        written = insert_df.withColumn(pk, new_id)

        merged_map = step_map if prior is None else prior.unionByName(step_map)
        # the map's row count rides its checkpoint job (free) — the
        # broadcast-gate count in _map_count needs no action of its own
        from amaxa_spark.operators.graph import observed_checkpoint

        ck, m = observed_checkpoint(merged_map, F.count(F.lit(1)).alias("n"))
        self.result.id_map[table] = ck
        self._map_counts[table] = int(m["n"])
        self.result.written[table] = written.localCheckpoint(eager=True)
        if errors:
            err = errors[0]
            for e in errors[1:]:
                err = err.unionByName(e)
            self.result.errors[table] = err.localCheckpoint(eager=True)

    def _dependent_step(self, step: LoadStepPlan) -> None:
        """Stage DEPENDENTS for one table: the Delta-less MERGE.

        The FK columns of rows with ≥1 mapped FK (P8) are merged into
        the written rows by a left join-and-replace — one rewrite of
        the table per DEPENDENT stage (each table passes through here
        exactly once). At 100 TB this is one shuffle-join + full
        rewrite of the sink; the partition-scoped variant (rewrite
        only the PK-hash buckets containing updated rows) is the
        versioned bucket layout, ``catalog.write_versioned_table`` +
        ``catalog.merge_into_versioned`` — see SCALE_NOTES
        "Dependent-update MERGE at 100 TB" for when that, or a real
        MERGE table format (Delta/Iceberg), is the right sink."""
        table = step.table
        meta = self.registry[table]
        pk = meta.pk
        cls = self.classification[table]
        deferred = sorted(cls.dependent_lookups | cls.self_lookups)
        if not deferred:
            return
        df = self._prepared(step)
        deferred = [c for c in deferred if c in df.columns]
        if not deferred:
            return
        upd = df.select(pk, *deferred)

        errors: list[DataFrame] = []
        for col in deferred:
            targets = [t for t in meta.lookups[col] if t in self.step_order]
            id_map, map_rows = self._combined_map(targets)
            upd = self._rewrite_fk(
                upd, col, id_map, step.outside_behavior_for(col), errors, pk,
                map_rows,
            )

        # P8: only rows with at least one non-null rewritten FK
        upd = upd.where(
            F.greatest(*[F.col(c).isNotNull() for c in deferred])
            if len(deferred) > 1
            else F.col(deferred[0]).isNotNull()
        )

        # swap old PK -> new id, then merge FK columns into written rows
        own_map = self._map_for(table)
        own_side = (
            F.broadcast(own_map)
            if self._map_count(table) <= _BROADCAST_MAP_MAX
            else own_map
        )
        upd = (
            upd.join(
                own_side,
                upd[pk].cast("string") == own_map["old_id"],
                "inner",
            )
            .drop(pk, "old_id")
            .withColumnRenamed("new_id", pk)
        )

        written = self.result.written[table]
        upd_renamed = upd.select(
            F.col(pk).alias("__u_pk"),
            *[F.col(c).alias(f"__u_{c}") for c in deferred],
        )
        merged = written.join(
            upd_renamed, written[pk] == F.col("__u_pk"), "left_outer"
        )
        for c in deferred:
            if c in written.columns:
                merged = merged.withColumn(
                    c, F.coalesce(F.col(f"__u_{c}"), F.col(c))
                )
            else:
                merged = merged.withColumn(c, F.col(f"__u_{c}"))
        merged = merged.drop("__u_pk", *[f"__u_{c}" for c in deferred])
        self.result.written[table] = merged.localCheckpoint(eager=True)
        if errors:
            err = errors[0]
            for e in errors[1:]:
                err = err.unionByName(e)
            cur = self.result.errors.get(table)
            self.result.errors[table] = (
                err if cur is None else cur.unionByName(err)
            ).localCheckpoint(eager=True)

    # ------------------------------------------------------------------
    def run(self) -> LoadResult:
        """Two-stage plan (`amaxa/amaxa.py:262-295`): all inserts in
        list order, then all dependent updates; fail-stop between
        steps. A resumed operation may skip straight to DEPENDENTS."""
        if self.start_stage == "inserts":
            for step in self.steps:
                log.info("load insert step %s", step.table)
                self._insert_step(step)
        else:
            for step in self.steps:
                if step.table not in self.result.written:
                    # resumed past inserts: reconstruct written rows
                    self._insert_step(step)
        for step in self.steps:
            log.info("load dependent step %s", step.table)
            self._dependent_step(step)
        return self.result
