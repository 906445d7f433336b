"""Streaming pipeline drivers.

The reference's ``flatten_stream`` (api.py:284-382, streaming.py:16-117) is
bounded-memory *batch* processing — Spark gives that for free (partitioned
execution, spill-to-disk), so ``flatten_stream`` here is flatten + write.

For genuine event streams, ``flatten_readstream`` wires the same plan into
Structured Streaming via ``foreachBatch``: each micro-batch is flattened
with one shared ``run_ts`` per batch and appended per table through
``sinks.save_tables``, which evaluates the batch once for all its tables
(Spark's foreachBatch pattern for writing to several sinks). The
first-batch-schema-freeze of the reference's writers (arrow_base.py:364-371)
becomes Spark's native fixed streaming schema.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from transmog_spark.config import EngineConfig
from transmog_spark.operators.flatten import current_run_timestamp, flatten
from transmog_spark.sinks import save_tables


_DRIFT_MODES = {"strict", "drop"}


def _check_drift_mode(on_schema_drift: str | None) -> None:
    """Reference-config compatibility: the reference's CSV writers expose
    ``strict`` (raise on schema drift) vs ``drop`` (warn + filter drifting
    columns) (reference writers/csv.py:265-275, :397-415). Spark fixes the
    schema at plan time, so drift is impossible by construction — the option
    is accepted and validated as a no-op guard so ported configs don't
    break, and an invalid value still fails fast like the reference."""
    if on_schema_drift is not None and on_schema_drift not in _DRIFT_MODES:
        raise ValueError(
            f"on_schema_drift must be one of {sorted(_DRIFT_MODES)}, "
            f"got {on_schema_drift!r}"
        )


def flatten_stream(
    df: DataFrame,
    output_path: str,
    entity_name: str = "entity",
    output_format: str = "parquet",
    config: EngineConfig | None = None,
    progress_callback: Callable[[int, int | None], None] | None = None,
    on_schema_drift: str | None = None,
    **options,
) -> list[str]:
    """Flatten and write straight to disk (reference P2 semantics).

    One ``extract_time`` for the whole run (api.py:238-239). Writes go
    through ``sinks.save_tables``; the progress callback fires once per
    finished table with (tables_written, total) — Spark's unit of progress
    is the table/stage, not the 100-row batch of the reference.
    ``on_schema_drift`` ('strict'|'drop') is accepted for reference-config
    parity; see ``_check_drift_mode``.
    """
    _check_drift_mode(on_schema_drift)
    cfg = config or EngineConfig()
    result = flatten(df, entity_name, cfg, run_ts=current_run_timestamp())
    return save_tables(result, output_path, output_format, progress_callback, **options)


def flatten_foreach_batch(
    entity_name: str,
    output_path: str,
    config: EngineConfig | None = None,
    output_format: str = "parquet",
    on_schema_drift: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """Build a foreachBatch function for ``writeStream``.

    Usage::

        q = (stream_df.writeStream
             .foreachBatch(flatten_foreach_batch("events", "/out"))
             .option("checkpointLocation", "/chk").start())

    ``on_schema_drift`` ('strict'|'drop') accepted for reference-config
    parity; Spark streams have a fixed schema so it's a validated no-op
    (see ``_check_drift_mode``).
    """
    _check_drift_mode(on_schema_drift)
    cfg = config or EngineConfig()

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        save_tables(flatten(batch_df, entity_name, cfg), output_path, output_format, mode="append")

    return handle
