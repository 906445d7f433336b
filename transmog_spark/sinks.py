"""Sinks / writers (reference W1-W9, SURVEY.md §2.4).

The reference hand-rolls csv/parquet/orc/avro writers with row->column
pivots and incremental buffering (writers/*.py, ~1.3 kLoC). On Spark every
one of those is a `df.write.format(...)` call: distributed, columnar,
spill-aware. What remains of the reference's writer layer:

* format registry + validation      (writers/__init__.py:29-130)
* save dispatcher: one file per table under a base dir (api.py:81-179)
* filename sanitization             (writers/base.py:48-59)
* CSV-injection sanitization        (writers/csv.py:24-57) — optional, as a
  column transform (leading =+-@|tab/CR, incl. after whitespace, -> "'").

``save_tables`` is the one multi-table save path (``FlattenResult.save``
and both streaming entry points use it).  Every table of a flatten derives
from one id-bearing source frame, so a save evaluates that source once:
it is persisted for the save, the main table is written first (that job
fills the cache), then the child tables are written concurrently from
the cache, one Python thread per table, so their single-task jobs use
the idle cores.  Main-first is what bounds memory: children that start
before the cache is filled each re-run the root-id UDF next to their own
child-id UDF, holding two pandas-UDF row buffers per running task instead
of one.  Spark's scheduler already caps the running tasks at the core
count, so there is no pool-size setting.
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor, as_completed
from typing import TYPE_CHECKING

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.util import inheritable_thread_target

if TYPE_CHECKING:
    from transmog_spark.operators.flatten import FlattenResult

_FORMATS = {"csv", "parquet", "orc", "avro", "json"}

# spark-avro is a separate artifact; probe lazily and degrade clearly.
_AVRO_CHECKED: dict[str, bool] = {}


class MissingDependencyError(RuntimeError):
    """Format backend unavailable (reference writers/__init__.py:29-130)."""


def sanitize_filename(name: str) -> str:
    """Path-safe table filenames (reference writers/base.py:48-59)."""
    s = re.sub(r"[^\w.-]+", "_", name).strip("_")
    return s or "table"


def sanitize_csv_injection(df: DataFrame) -> DataFrame:
    """Prefix formula-triggering cells with a quote (writers/csv.py:24-57).

    Applies to string columns whose first non-whitespace char is one of
    ``= + - @ | \\t \\r``.
    """
    out = df
    for f in df.schema.fields:
        if isinstance(f.dataType, T.StringType):
            c = F.col(f.name)
            trig = F.regexp_extract(c, r"^\s*([=+\-@|\t\r])", 1) != ""
            out = out.withColumn(f.name, F.when(trig, F.concat(F.lit("'"), c)).otherwise(c))
    return out


def write_table(
    df: DataFrame,
    path: str,
    output_format: str = "parquet",
    *,
    csv_injection_safe: bool = False,
    **options,
) -> str:
    fmt = output_format.lower()
    if fmt not in _FORMATS:
        raise MissingDependencyError(
            f"Unsupported format {output_format!r}; choose from {sorted(_FORMATS)}"
        )
    mode = options.pop("mode", "overwrite")
    writer = df.write.mode(mode)
    if fmt == "csv":
        if csv_injection_safe:
            df = sanitize_csv_injection(df)
            writer = df.write.mode(mode)
        writer = writer.option("header", options.pop("header", "true"))
    if fmt == "parquet":
        options.setdefault("compression", "snappy")  # reference parquet.py:18-42
    if fmt == "orc":
        options.setdefault("compression", "zstd")  # reference orc.py:16-79
    for k, v in options.items():
        writer = writer.option(k, v)
    try:
        writer.format(fmt).save(path)
    except Exception as exc:  # AnalysisException: DATA_SOURCE_NOT_FOUND
        if fmt == "avro" and "avro" in str(exc).lower():
            # spark-avro jar absent: distributed pure-Python OCF fallback
            # (reference writers/avro.py semantics; see sinks_avro docstring)
            from transmog_spark.sinks_avro import write_avro_fallback

            if mode not in ("overwrite", "append"):
                raise MissingDependencyError(
                    f"Avro fallback supports overwrite/append, not {mode!r}; "
                    "ship the spark-avro jar for full writer modes"
                ) from exc
            return write_avro_fallback(df, path, mode=mode)
        raise
    return path


def save_tables(
    result: "FlattenResult",
    path: str,
    output_format: str = "parquet",
    progress_callback: Callable[[int, int], None] | None = None,
    **options,
) -> list[str]:
    """Save dispatcher (reference api.py:81-179): one dir per table.

    Evaluates ``result.source`` once (see the module docstring): persisted
    for the save unless the caller already cached it, main table first,
    then the children concurrently.  Returns the paths in ``all_tables``
    order.  A failed main write raises at once; a failed child write raises
    (the first in table order) only after every other child write has
    finished.  ``progress_callback(done, total)`` fires once per table
    written.
    """
    tables = result.all_tables
    targets = {name: os.path.join(path, sanitize_filename(name)) for name in tables}
    main_name, *children = tables
    done = 0

    def write(name: str) -> str:
        return write_table(tables[name], targets[name], output_format, **options)

    def finished() -> None:
        nonlocal done
        done += 1
        if progress_callback is not None:
            progress_callback(done, len(tables))

    source = result.source
    own_cache = bool(children) and source is not None and source.storageLevel == StorageLevel.NONE
    if own_cache:
        source.persist()
    try:
        written = [write(main_name)]
        finished()
        if children:
            # local properties (job group, description) and tags are copied
            # into the pool's threads when the target is wrapped, here
            target = inheritable_thread_target(tables[main_name].sparkSession)(write)
            with ThreadPoolExecutor(max_workers=len(children)) as pool:
                futures = [pool.submit(target, name) for name in children]
                for fut in as_completed(futures):
                    if fut.exception() is None:
                        finished()
            written += [fut.result() for fut in futures]
    finally:
        if own_cache:
            source.unpersist()
    return written
