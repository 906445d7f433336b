"""The flatten operator family (reference F1-F12, SURVEY.md §2.2) on Spark.

Where the reference walks every record in Python
(/root/reference/src/transmog/flattening.py:281-576, single-threaded), this
engine walks the *schema once* on the driver and emits a DAG of
select/explode transforms. Catalyst then gets full predicate pushdown,
column pruning, and whole-stage codegen; execution is distributed and
columnar. No per-row Python anywhere in this module.

Lineage semantics reproduced deliberately (verified against the reference):

* `_parent_id` of every extracted row — at ANY nesting depth — is the
  top-level record's id, not the immediate parent's
  (flattening.py:231-238,259-264 [verified], SURVEY §2.3 I6).
* Child-table naming resets the dict path at each array boundary
  (flattening.py:226-230,449-462 [verified]): departments[].teams[] under
  entity `company` yields `company_teams`, NOT `company_departments_teams`.
* One `extract_time` per run (api.py:238-239): `F.lit(run_ts)` captured on
  the driver.
* Same-named child tables from different branches are merged
  (flattening.py:571-575) via `unionByName(allowMissingColumns=True)`.

Scale notes: explode is a narrow transformation (no shuffle); child tables
inherit the parent's partitioning. The only shuffle this operator can
introduce is the `unionByName` of same-named children (still narrow — union
is not a shuffle). Hash ids are pandas-UDF only under the reference-parity
`hash` strategy; at 100 TB use `xxhash64`/`sha256` (JVM codegen).
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from datetime import datetime, timezone

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from transmog_spark.config import TIMESTAMP_FORMAT, ArrayMode, EngineConfig
from transmog_spark.functions.ids import id_column, validate_natural_ids
from transmog_spark.functions.nulls import (
    normalize_null_like,
    stringify,
)
from transmog_spark.plans.schema_walk import (
    ArraySpec,
    plan_level,
    sanitize_name,
    table_name,
)

_ITEM = "__tm_item"
_ROOT_ID = "__tm_root_id"


def current_run_timestamp() -> str:
    """Run-constant extract time, reference format (flattening.py:130-136)."""
    return datetime.now(timezone.utc).strftime(TIMESTAMP_FORMAT)


@dataclass
class FlattenResult:
    """Flattened output: main DataFrame + child DataFrames by table name.

    Mirrors the reference's FlattenResult (api.py:26-179) with DataFrames
    in place of row lists.  ``source`` is the id-bearing frame every table
    derives from; ``save`` evaluates it once (see ``sinks.save_tables``):
    persisted for the writes unless the caller already cached it, main
    table first to fill the cache, then the children concurrently, so each
    running task holds one pandas-UDF buffer (the child id's) rather than
    re-running the root-id UDF beside it.
    """

    entity_name: str
    main: DataFrame
    tables: dict[str, DataFrame] = dc_field(default_factory=dict)
    source: DataFrame | None = None

    @property
    def all_tables(self) -> dict[str, DataFrame]:
        return {self.entity_name: self.main, **self.tables}

    def save(self, path: str, output_format: str = "parquet", **options) -> list[str]:
        """Write every table under ``path`` (reference save dispatcher W9);
        no frame stays persisted after it returns."""
        from transmog_spark.sinks import save_tables

        return save_tables(self, path, output_format, **options)


def flatten(
    df: DataFrame,
    entity_name: str = "entity",
    config: EngineConfig | None = None,
    run_ts: str | None = None,
) -> FlattenResult:
    """Flatten nested structs/arrays of ``df`` into main + child DataFrames.

    The Spark analog of the reference's ``tm.flatten`` (api.py:182-281).
    """
    cfg = config or EngineConfig()
    ts = run_ts or current_run_timestamp()
    entity = sanitize_name(entity_name)

    meta_names = {cfg.parent_field}
    if cfg.time_field:
        meta_names.add(cfg.time_field)

    natural = cfg.id_generation == "natural"
    if natural:
        if cfg.validate_natural:
            validate_natural_ids(df, cfg.id_field)
        df0 = df
        root_id_name = cfg.id_field
    else:
        meta_names.add(cfg.id_field)
        data_df = df.drop(*[c for c in df.columns if c in meta_names])
        df0 = df.withColumn(cfg.id_field, id_column(data_df, cfg))
        root_id_name = cfg.id_field

    data_fields = [f for f in df0.schema.fields if f.name not in meta_names or natural]
    if not natural:
        data_fields = [f for f in data_fields if f.name != cfg.id_field]

    plan = plan_level(data_fields, F.col, cfg)

    select_list: list[Column] = []
    if not natural:
        select_list.append(F.col(cfg.id_field))
    if cfg.time_field:
        select_list.append(F.lit(ts).alias(cfg.time_field))
    for name, col in plan.exprs.items():
        select_list.append(col.alias(name))
    main = df0.select(*select_list)

    tables: dict[str, DataFrame] = {}
    _extract_children(df0, F.col(root_id_name), plan.arrays, entity, cfg, ts, tables)
    return FlattenResult(entity_name=entity, main=main, tables=tables, source=df0)


def _merge_child(tables: dict[str, DataFrame], name: str, df: DataFrame) -> None:
    """Same-named child tables merge across branches (flattening.py:571-575)."""
    if name in tables:
        tables[name] = tables[name].unionByName(df, allowMissingColumns=True)
    else:
        tables[name] = df


def _extract_children(
    src_df: DataFrame,
    root_id: Column,
    arrays: list[ArraySpec],
    entity: str,
    cfg: EngineConfig,
    ts: str,
    tables: dict[str, DataFrame],
) -> None:
    """Explode each ArraySpec of the current level into a child DataFrame.

    ``root_id`` always references the TOP-LEVEL record id (I6: root-anchored
    lineage at every depth).
    """
    for spec in arrays:
        tname = sanitize_name(table_name(entity, spec.array_name, spec.parent_path))
        exploded = src_df.select(
            root_id.alias(_ROOT_ID),
            F.explode(spec.access).alias(_ITEM),
        )
        elem = spec.element_type

        if isinstance(elem, T.StructType):
            exploded = exploded.where(F.col(_ITEM).isNotNull())
            child_plan = plan_level(
                elem.fields, lambda n: F.col(_ITEM).getField(n), cfg
            )
            # Reference hashes the FLATTENED item (nested arrays removed,
            # flattening.py:231-238: metadata_dict = flattened), with
            # null-like keys dropped under include_nulls=False.
            flat_struct = F.struct(
                *[c.alias(n) for n, c in child_plan.exprs.items()]
            ) if child_plan.exprs else F.struct(F.lit(None).alias("__empty"))
            flat_schema = T.StructType(
                [T.StructField(n, T.StringType()) for n in child_plan.exprs]
            )
            cid = id_column(
                exploded,
                cfg,
                is_child=True,
                item_struct=F.col(_ITEM) if cfg.id_generation == "natural" else flat_struct,
                item_schema=elem if cfg.id_generation == "natural" else flat_schema,
                keep_nulls=cfg.include_nulls,
            )
            cols: list[Column] = []
            id_from_data = (
                cfg.id_generation == "natural" and sanitize_name(cfg.id_field) in child_plan.exprs
            )
            if cid is not None and not id_from_data:
                cols.append(cid.alias(cfg.id_field))
            elif cid is not None and id_from_data:
                # natural mode: keep the data column as the id, but fill
                # missing/empty ids with the uuid4 fallback (I4 child rule)
                child_plan.exprs[sanitize_name(cfg.id_field)] = cid
            cols.append(F.col(_ROOT_ID).cast("string").alias(cfg.parent_field))
            if cfg.time_field:
                cols.append(F.lit(ts).alias(cfg.time_field))
            cols.extend(col.alias(n) for n, col in child_plan.exprs.items())
            child = exploded.select(*cols)
            _merge_child(tables, tname, child)

            # Arrays nested inside items: same exploded frame is the source;
            # root id is carried through (root-anchored lineage, I6) and the
            # naming path has been reset at this boundary (F9).
            _extract_children(
                exploded, F.col(_ROOT_ID), child_plan.arrays, entity, cfg, ts, tables
            )
        else:
            # Primitive (or nested-array) items -> {"value": item} rows
            # (reference flattening.py:241-249).
            item = F.col(_ITEM)
            if isinstance(elem, (T.ArrayType, T.MapType)):
                item = F.to_json(item)
                elem_out: T.DataType = T.StringType()
            else:
                item = normalize_null_like(item, elem)
                elem_out = elem
            if not cfg.include_nulls:
                exploded = exploded.where(item.isNotNull())
            if cfg.stringify_values:
                item = stringify(item, elem_out)
            value_struct = F.struct(item.alias("value"))
            cid = id_column(
                exploded,
                cfg,
                is_child=True,
                item_struct=value_struct,
                item_schema=T.StructType([T.StructField("value", elem_out)]),
            )
            cols = []
            if cid is not None:
                cols.append(cid.alias(cfg.id_field))
            cols.append(F.col(_ROOT_ID).cast("string").alias(cfg.parent_field))
            if cfg.time_field:
                cols.append(F.lit(ts).alias(cfg.time_field))
            cols.append(item.alias("value"))
            _merge_child(tables, tname, exploded.select(*cols))
