"""File-format sources/sinks (SURVEY.md S3-S8).

Null-token normalization mirrors the reference's fread na.strings and
"NULL"-string cleanup (code/03_deflators.R:46, code/04_fts_curated_flows.R:63).
Facts write as year-partitioned parquet with dynamic partition overwrite —
the Spark-native analog of the reference's one-CSV-per-year incremental cache
(code/04_fts_curated_flows.R:44-68).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

NULL_TOKENS = ["", "n/a", "--", "NULL", "NA"]


def read_csv(
    spark: SparkSession,
    path: str,
    schema=None,
    null_tokens: list[str] | None = None,
    **options,
) -> DataFrame:
    """S3 — CSV read with null-token normalization (fread na.strings).

    With an explicit ``schema`` (preferred — SURVEY §1.3: the engine
    declares its table contracts), typed columns get parse-time null
    semantics: the first null token rides the reader's ``nullValue`` and
    any other token fails the typed parse in PERMISSIVE mode, landing as
    null — exactly fread's na.strings behavior. String columns are
    normalized afterwards, every token in one projection. Without a
    schema, types are inferred and only string-typed columns can carry the
    replacement (a multi-token null in a numeric column forces that column
    to string; declare a schema to avoid it).
    """
    tokens = null_tokens if null_tokens is not None else NULL_TOKENS
    tokens = [t for t in tokens if t != ""]
    reader = spark.read.options(header=True, mode="PERMISSIVE", **options)
    if tokens:
        reader = reader.option("nullValue", tokens[0])
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    df = reader.csv(path)
    if not tokens:
        return df
    # ONE projection folds every token: chained replace() calls would add
    # a Project per token and nest pushed-down filters a CASE WHEN deep
    # per token
    cols = []
    for f in df.schema.fields:
        c = F.col("`" + f.name.replace("`", "``") + "`")
        if isinstance(f.dataType, StringType):
            c = F.when(c.isin(tokens), F.lit(None)).otherwise(c).alias(f.name)
        cols.append(c)
    return df.select(*cols)


def read_tsv_utf16(spark: SparkSession, path: str, **options) -> DataFrame:
    """S7 — tab-delimited UTF-16 with WEO null tokens
    (reference code/03_deflators.R:46). ``multiLine`` makes the reader
    decode whole records in the declared encoding — without it, line
    splitting happens on raw bytes and every UTF-16 line ends with half a
    code unit."""
    return (
        spark.read.options(
            header=True,
            sep="\t",
            encoding="UTF-16",
            multiLine=True,
            nullValue="n/a",
            **options,
        )
        .csv(path)
        .replace("--", None)
        .replace("n/a", None)
    )


def read_excel(
    spark: SparkSession, path: str, sheet: str | int = 0
) -> DataFrame:
    """S6 — Excel source (driver-side: survey workbooks are KB-sized
    dimension inputs, reference code/10_global_cva_analysis.R:30-36).

    Prefers pandas+openpyxl when installed; otherwise falls back to the
    stdlib zip+XML codec (``xlsx_stdlib.read_xlsx``), which covers the
    SpreadsheetML subset the survey workbook uses — so the engine has no
    hard Excel dependency."""
    try:
        import openpyxl  # noqa: F401
        import pandas as pd
    except ImportError:
        return _read_excel_stdlib(spark, path, sheet)

    pdf = pd.read_excel(path, sheet_name=sheet)
    pdf.columns = [str(c).strip() for c in pdf.columns]
    return spark.createDataFrame(pdf)


def _read_excel_stdlib(
    spark: SparkSession, path: str, sheet: str | int = 0
) -> DataFrame:
    """openpyxl-free S6 path: stdlib codec → typed Spark rows.

    Columns mixing int and float are widened to float so schema inference
    over Python rows cannot hit a Long/Double merge conflict (pandas does
    the same widening on read)."""
    from .xlsx_stdlib import read_xlsx

    header, rows = read_xlsx(path, sheet)
    header = [str(c).strip() for c in header]
    widen = {
        i
        for i in range(len(header))
        if any(type(r[i]) is float for r in rows)
        and any(type(r[i]) is int for r in rows)
    }
    if widen:
        rows = [
            [
                float(v) if i in widen and type(v) is int else v
                for i, v in enumerate(r)
            ]
            for r in rows
        ]
    return spark.createDataFrame(
        [tuple(r) for r in rows], schema=header
    )


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_col: str = "year",
    mode: str = "overwrite",
    sort_cols: list[str] | None = None,
) -> None:
    """S4/S5 — year-partitioned parquet sink with dynamic partition overwrite
    (re-running one year replaces only that partition — the reference's
    per-year cache semantics, code/04:44-68). ``sort_cols`` sorts rows
    within each output file so parquet min/max statistics enable row-group
    skipping on those columns (the cheap cousin of Z-ordering — worth it
    for the high-selectivity keys a 100 TB table is filtered by)."""
    if sort_cols:
        df = df.sortWithinPartitions(*sort_cols)
    # per-write option, not the session conf: setting
    # spark.sql.sources.partitionOverwriteMode would make every later
    # partitioned overwrite in the session dynamic as well
    (
        df.write.mode(mode)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )


def cached_table(
    spark: SparkSession,
    path: str,
    build,
    force: bool = False,
) -> DataFrame:
    """Build-or-load materialization — the reference's file-cache policy
    (recompute only if the file is absent or the refresh is forced,
    code/04_fts_curated_flows.R:44-68, code/03:25-42,109-114) generalized:
    ``build()`` returns the DataFrame to persist; subsequent calls read the
    parquet back instead of re-running the plan (and, for source-backed
    plans, re-hitting the network)."""
    import os

    exists = os.path.exists(path) and any(
        not n.startswith(("_", ".")) for n in os.listdir(path)
    )
    if force or not exists:
        build().write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def write_jsonl_shards(
    df: DataFrame,
    path: str,
    num_shards: int,
    shard_col: str | None = None,
    sort_cols: list[str] | None = None,
    compression: str = "gzip",
    mode: str = "overwrite",
) -> None:
    """Training-shard JSONL sink (the parquet-shard variant for
    Spark-native consumers is plans.corpus.write_training_shards): the
    interchange format every dataloader speaks (one JSON object per line, gzip-splittable at file granularity
    — loaders parallelize over shard FILES, so file count IS the read
    parallelism knob).

    ``shard_col`` routes rows to shards by hash of that column (keeps a
    pack's members — packing.pack_sequences' ``pack_id`` — in one shard
    file so the dataloader never joins across files); otherwise rows
    round-robin via repartition(num_shards). ``sort_cols`` orders rows
    WITHIN each shard (sortWithinPartitions — no global sort) so packs
    stream out contiguously. Round-robin yields exactly ``num_shards``
    files; hash routing yields at most that many (hash collisions can
    leave a shard slot empty, and empty partitions write no file —
    irrelevant beyond toy key counts).
    """
    if num_shards <= 0:
        raise ValueError(f"num_shards must be positive: {num_shards}")
    if shard_col:
        out = df.repartition(num_shards, F.col(shard_col))
    else:
        out = df.repartition(num_shards)
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    out.write.mode(mode).option("compression", compression).json(path)


def read_jsonl(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSONL reader twin of ``write_jsonl_shards``. Pass the schema
    whenever it is known: schema inference is a full extra pass over the
    data (and gzip files decompress twice) — never acceptable at corpus
    scale."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)
