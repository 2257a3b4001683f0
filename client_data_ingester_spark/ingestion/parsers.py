"""Source/parser registry (SURVEY §2.1 S1/S2/S9).

The reference dispatches parsers by string id via subclass scan
(B/config.py:139-145; ABC at B/ingestion/parsers.py:10-28). Here the registry
maps id → a reader returning an all-string DataFrame plus a row-order column.

Two source kinds per reader:
- a **path** (file/dir/glob): read distributed by executors — the scale path;
  the uploaded file never has to be driver-resident.
- **bytes/str** (HTTP upload body): parsed driver-side (request-sized by
  definition) into a pyarrow table that ``createDataFrame`` ships to the
  JVM as Arrow batches — no Python worker and no per-row ``toInternal``;
  same downstream pipeline.

Row order is semantically meaningful (later rows win on duplicate SKUs —
SURVEY §2.3 J4), so every reader attaches ``_row_idx`` at the source via
``monotonically_increasing_id()`` (per-partition-monotonic ids whose partition
prefix follows file order — a total order consistent with file order).

CSV parity details (B/ingestion/parsers.py:30-48): header column names are
whitespace-stripped; empty-string cells stay ``""`` (NOT null — an empty sku
means "always insert", test_products.py:216-236), while *missing* cells are
null ("column not supplied", never overwrites on update).
"""

from __future__ import annotations

import csv
import io
import json
from typing import Callable, Union

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

ROW_IDX_COL = "_row_idx"

Source = Union[str, bytes]


def _with_row_idx(df: DataFrame) -> DataFrame:
    return df.withColumn(ROW_IDX_COL, F.monotonically_increasing_id())


def _strip_headers(df: DataFrame) -> DataFrame:
    return df.toDF(*[c.strip() for c in df.columns])


def _all_string_schema(names: list[str]) -> T.StructType:
    return T.StructType([T.StructField(n, T.StringType(), True) for n in names])


def _df_from_rows(
    spark: SparkSession, header: list[str], rows: list[list]
) -> DataFrame:
    header = [h.strip() for h in header]
    schema = _all_string_schema(header).add(ROW_IDX_COL, T.LongType(), False)
    # Column-wise Arrow arrays, named positionally: a dict keyed by name
    # would merge duplicate header names, which must stay distinct columns
    # (mapping resolves them last-file-column-wins).
    columns = list(zip(*rows)) if rows else [()] * len(header)
    table = pa.Table.from_arrays(
        [pa.array(c, type=pa.string()) for c in columns]
        + [pa.array(range(len(rows)), type=pa.int64())],
        names=[*header, ROW_IDX_COL],
    )
    # The Arrow relation arrives split into min(rows, defaultParallelism)
    # partitions, and EVERY downstream stage of the ingest (validation
    # fold, merge join, staging write) would then schedule ~cores tasks
    # for a handful of rows — measured ~0.5-1.0 s per commit of pure task
    # overhead at local[32]. Byte payloads are request-sized by definition
    # (the path branch stays distributed), so coalescing to ~50k rows per
    # slice keeps uploads of up to 50k rows single-partition while
    # genuinely large bodies still spread.
    slices = max(1, min(-(-len(rows) // 50_000), 64))
    return spark.createDataFrame(table, schema=schema).coalesce(slices)


def read_csv(spark: SparkSession, source: Source) -> DataFrame:
    if isinstance(source, (bytes, bytearray)):
        text = source.decode("utf-8")
        reader = csv.reader(io.StringIO(text))
        try:
            header = next(reader)
        except StopIteration:
            # empty payload: no header, no rows — parity with DictReader
            # yielding nothing (ingest reports success, 0 processed)
            return _df_from_rows(spark, [], [])
        # short rows are padded with nulls (missing trailing cells),
        # long rows cut to the header's width
        width = len(header)
        rows = [(row + [None] * (width - len(row)))[:width] for row in reader]
        return _df_from_rows(spark, header, rows)
    df = (
        spark.read.option("header", True)
        .option("inferSchema", False)
        # A QUOTED "" cell stays "" (the always-insert empty-sku path) —
        # but only when nullValue is moved off its default "": univocity
        # otherwise nulls quoted empties too. The conventional \N marker is
        # the explicit null spelling; unquoted-empty and missing cells also
        # read as null (the python-csv bytes path keeps unquoted empties as
        # "" — driver-parsed uploads are the reference's own surface, this
        # distributed reader is the scale extension).
        .option("emptyValue", "")
        .option("nullValue", "\\N")
        .option("mode", "PERMISSIVE")
        .csv(source)
    )
    return _with_row_idx(_strip_headers(df))


def read_json(spark: SparkSession, source: Source) -> DataFrame:
    """JSON source (README.md:33 backlog task 2): array-of-objects or JSONL."""
    if isinstance(source, (bytes, bytearray)):
        source = source.decode("utf-8")
        stripped = source.lstrip()
        if stripped.startswith("["):
            records = json.loads(source)
        else:
            records = [json.loads(line) for line in source.splitlines() if line.strip()]
        # header names are stripped (CSV-header parity), but values must
        # be fetched under each record's ORIGINAL key — looking up the
        # stripped name against an un-stripped record would silently null
        # out every whitespace-padded key's cells
        header: list[str] = []
        for r in records:
            for k in r:
                if k.strip() not in header:
                    header.append(k.strip())

        def cell(r: dict, name: str):
            # LAST matching key wins — the reference's dict collapse and
            # compile_mapping's duplicate-target rule are both last-wins,
            # so two keys differing only in whitespace (' a' vs 'a ') must
            # resolve the same way here
            for k, v in reversed(list(r.items())):
                if k.strip() == name:
                    return None if v is None else str(v)
            return None

        rows = [[cell(r, name) for name in header] for r in records]
        return _df_from_rows(spark, header, rows)
    df = (
        spark.read.option("primitivesAsString", True)
        .option("multiLine", True)
        .json(source)
    )
    return _with_row_idx(_strip_headers(df))


PARSERS: dict[str, Callable[[SparkSession, Source], DataFrame]] = {}


def register_parser(
    parser_id: str, fn: Callable[[SparkSession, Source], DataFrame]
) -> None:
    PARSERS[parser_id] = fn


register_parser("csv", read_csv)
register_parser("json", read_json)


def get_parser(parser_id: str) -> Callable[[SparkSession, Source], DataFrame]:
    try:
        return PARSERS[parser_id]
    except KeyError:
        raise KeyError(f"Unknown parser id: {parser_id!r}") from None
