"""Row expansion / reshaping operators (SURVEY.md §2.7).

All pure DataFrame expressions — explode/transform/unionByName — so Catalyst
keeps pushdown and pruning through them and no shuffle is introduced except
where the semantics require one (X4's group-concat).
"""

from __future__ import annotations

from functools import reduce
from typing import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from calp_cva_tracking_pipeline_spark.sources.literal import literal_table


def _qcol(name: str) -> Column:
    """Column ref that tolerates the reference's dotted column names
    (e.g. ``destinationObjects_Location.name`` — FIXTURES.md §1)."""
    return F.col(f"`{name}`") if "." in name else F.col(name)


def split_rows_equal(
    df: DataFrame,
    packed_col: str,
    amount_cols: Iterable[str] = ("amountUSD",),
    sep: str = ";",
) -> DataFrame:
    """X1 — equal-split explode of a '; '-packed multi-value string.

    One output row per packed part; each amount column divided by the part
    count so per-source-row sums are preserved (floating point). Narrow
    transformation: no shuffle, scales linearly.

    Reference semantics: code/02_fts_split_rows.R:8-21 (split on ';', trim
    parts, amount / (1 + separator count)); applied to usage-year and
    location at code/04_fts_curated_flows.R:87-92.
    """
    parts = F.transform(F.split(_qcol(packed_col), sep), lambda s: F.trim(s))
    df = df.withColumn("__parts", parts)
    n = F.size(F.col("__parts"))
    for amt in amount_cols:
        df = df.withColumn(amt, _qcol(amt) / n)
    return (
        df.withColumn(packed_col, F.explode(F.col("__parts")))
        .drop("__parts")
    )


def union_ragged(dfs: Iterable[DataFrame]) -> DataFrame:
    """X2 — union tables with differing schemas, null-filling by name.

    Reference semantics: rbindlist(fill=TRUE, use.names=TRUE)
    (code/01_fts_get_flows.R:46, code/04_fts_curated_flows.R:70).
    """
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), list(dfs)
    )


def melt(
    df: DataFrame,
    id_cols: list[str],
    value_cols: list[str],
    var_name: str = "variable",
    value_name: str = "value",
) -> DataFrame:
    """X3 — wide→long unpivot (reference: WEO year-columns melt,
    code/03_deflators.R:51-53). Uses Spark's native unpivot (no shuffle)."""
    return df.unpivot(id_cols, value_cols, var_name, value_name)


def collapse_group_concat(
    df: DataFrame,
    group_cols: list[str],
    concat_cols: list[str],
    sep: str = "; ",
) -> DataFrame:
    """X4 — per-group sorted '; '-join of each column's values.

    Reference semantics: nested sourceObjects/destinationObjects arrays
    collapsed with paste(collapse="; ") per flow
    (code/01_fts_get_flows.R:50-72). Values are sorted for determinism —
    collect_list order is partition-dependent, array_sort makes the packed
    string stable at any parallelism.
    """
    aggs = [
        F.array_join(F.array_sort(F.collect_list(c)), sep).alias(c)
        for c in concat_cols
    ]
    return df.groupBy(*group_cols).agg(*aggs)


def collapse_struct_array(
    df: DataFrame,
    arr_col: str,
    fields: list[str],
    prefix: str = "",
    sep: str = "; ",
    drop: bool = True,
) -> DataFrame:
    """X5 — collapse an ArrayType(StructType) column into one '; '-joined
    string column per struct field.

    Reference semantics: the nested ``reportDetails`` list-column becomes
    prefixed flat columns, each field's values joined with '; '
    (code/04_fts_curated_flows.R:59-62). Pure ``transform`` + ``array_join``
    — a narrow projection with no explode and no shuffle, so at 100 TB it
    runs at scan speed inside whole-stage codegen.

    Null/empty arrays produce null (no values to join), matching R's
    paste-over-empty-list → NA cleanup at code/04:63.
    """
    out = df
    for f in fields:
        joined = F.array_join(
            F.transform(_qcol(arr_col), lambda s: s.getField(f).cast("string")),
            sep,
        )
        out = out.withColumn(
            f"{prefix}{f}",
            F.when(
                _qcol(arr_col).isNull() | (F.size(_qcol(arr_col)) == 0),
                F.lit(None),
            ).otherwise(joined),
        )
    return out.drop(arr_col) if drop else out


def explode_with_fallback(
    df: DataFrame,
    arr_col: str,
    out_cols: dict[str, Column],
    fallback: dict[str, Column],
) -> DataFrame:
    """X6 — one row per array element, with a placeholder row when the array
    is null/empty.

    Reference semantics: per-project Q&A emission — one long row per
    (question, answer) pair, and a single fallback row for projects whose
    JSON is absent or broken (code/06_fetch_projects.R:80-141).

    ``out_cols`` maps output name → expression over ``F.col("__elem")``
    (the exploded struct); ``fallback`` maps the same names to the
    placeholder values. Implemented as a single projection: null/empty
    arrays are first replaced by a one-element sentinel array so a single
    ``explode`` serves both branches — no union, no second scan of the
    input, which at 100 TB halves the I/O versus the explode+anti-join
    alternative.
    """
    has_rows = F.col(arr_col).isNotNull() & (F.size(arr_col) > 0)
    padded = F.when(has_rows, F.col(arr_col)).otherwise(
        F.array(F.lit(None).cast(df.schema[arr_col].dataType.elementType))
    )
    out = df.withColumn("__has", has_rows).withColumn(
        "__elem", F.explode(padded)
    )
    for name, expr in out_cols.items():
        out = out.withColumn(
            name, F.when(F.col("__has"), expr).otherwise(fallback[name])
        )
    return out.drop("__elem", "__has", arr_col)


def fan_out_rows(
    df: DataFrame,
    key_col: str,
    mapping: list[tuple[str, str]],
) -> DataFrame:
    """X7 — duplicate rows for dependent keys via a broadcast mapping join.

    ``mapping`` is (src_key, dst_key); copies of each src row are appended
    with the key replaced. Reference semantics: deflator territory fan-out
    GBR→AIA/MSR/SHN etc., code/03_deflators.R:131-147.
    """
    map_df = literal_table(
        df.sparkSession, mapping, "__src string, __dst string"
    )
    copies = (
        df.join(F.broadcast(map_df), F.col(key_col) == F.col("__src"), "inner")
        .withColumn(key_col, F.col("__dst"))
        .drop("__src", "__dst")
    )
    return df.unionByName(copies)
