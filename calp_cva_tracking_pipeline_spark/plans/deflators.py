"""The deflators program (reference code/03_deflators.R:44-178) as ONE lazy
DataFrame plan.

This is the reference's hardest windowing: cumulative growth compounding with
a trailing-null mask, anchor-year rebasing, a DAC ratio aggregate, territory
fan-out, and two-sided geometric extrapolation of missing years. Every step
is a window/groupBy expression — one hash exchange on ISO serves all of the
per-country windows, and the whole program stays inside Catalyst (no
driver-side loops, no UDFs).

Input contract: the melted WEO frame
(ISO, subject, year:int, value:string-with-thousands-commas) — i.e.
read_tsv_utf16 (S7) + reshape.melt (X3) output. Columns cited per step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from calp_cva_tracking_pipeline_spark.operators.cascade import apply_patch_map
from calp_cva_tracking_pipeline_spark.sources.literal import literal_table

# reference code/03_deflators.R:91-123
OECD_DAC_ISO3 = [
    "AUS", "AUT", "BEL", "CAN", "CZE", "DNK", "EST", "FIN", "FRA", "DEU",
    "GRC", "HUN", "ISL", "IRL", "ITA", "JPN", "KOR", "LTU", "LUX", "NLD",
    "NZL", "NOR", "POL", "PRT", "SVK", "SVN", "ESP", "SWE", "CHE", "GBR",
    "USA",
]

# territory fan-out (code/03:131-147): dependent territories inherit the
# parent's deflator series; any pre-existing rows for the target ISO are
# replaced, not appended to.
TERRITORY_COPIES = [
    ("GBR", "AIA"), ("GBR", "MSR"), ("GBR", "SHN"),
    ("NZL", "COK"), ("NZL", "NIU"), ("NZL", "TKL"),
    ("FRA", "WLF"),
    ("DAC", "CUB"), ("DAC", "PRK"), ("DAC", "SYR"),
]

_CUR_SUBJECT = {"USD": "NGDPD", "LCU": "NGDP", "PPP": "PPPGDP"}


def _replace_with_copies(
    df: DataFrame, mapping: list[tuple[str, str]]
) -> DataFrame:
    """X7 fan-out with replace semantics: rows for target ISOs are dropped,
    then each (src, dst) pair appends a copy of src's rows under dst."""
    map_df = F.broadcast(
        literal_table(df.sparkSession, mapping, "src string, dst string")
    )
    targets = map_df.select(F.col("dst").alias("ISO")).distinct()
    kept = df.join(F.broadcast(targets), "ISO", "left_anti")
    copies = (
        df.join(map_df, df.ISO == F.col("src"), "inner")
        .withColumn("ISO", F.col("dst"))
        .drop("src", "dst")
    )
    return kept.unionByName(copies)


def build_deflators(
    weo_long: DataFrame,
    base_year: int,
    currency: str = "USD",
    weo_ver: str = "Oct2024",
    approximate_missing: bool = True,
) -> DataFrame:
    """code/03_deflators.R:44-178 → (ISO, year, base_year, currency, source,
    ver, gdp_defl)."""
    w_iso = Window.partitionBy("ISO")
    w_year = w_iso.orderBy("year")
    w_run = w_year.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    # C10: strip thousands commas, cast (code/03:54); CC6: WBG→PSE (code/03:57)
    weo = weo_long.withColumn(
        "value", F.regexp_replace("value", ",", "").cast("double")
    )
    weo = apply_patch_map(weo, "ISO", [("WBG", "PSE")])

    # current-price GDP for the requested currency (code/03:59-69)
    gdp_cur = weo.filter(
        F.col("subject") == _CUR_SUBJECT[currency]
    ).select("ISO", "year", F.col("value").alias("gdp_cur"))

    # real growth → cumulative growth with the trailing-null mask
    # (code/03:75-77): missing growth counts as zero growth inside the
    # product, but a year whose own AND next growth are both missing gets a
    # null output (series has ended).
    pcg = weo.filter(F.col("subject") == "NGDP_RPCH").select(
        "ISO", "year", "value"
    )
    factor = 1.0 + F.coalesce(F.col("value") / 100.0, F.lit(0.0))
    ended = F.col("value").isNull() & F.lead("value").over(w_year).isNull()
    pcg = pcg.withColumn(
        "gdp_cg",
        F.when(~ended, F.exp(F.sum(F.log(factor)).over(w_run))),
    )
    # rebase to the base-year anchor (code/03:78)
    anchor_cg = F.max(
        F.when(F.col("year") == base_year, F.col("gdp_cg"))
    ).over(w_iso)
    pcg = pcg.withColumn("gdp_cg", F.col("gdp_cg") / anchor_cg)

    # constant-price GDP: rebased growth × base-year current GDP (code/03:80-82)
    con = pcg.select("ISO", "year", "gdp_cg").join(gdp_cur, ["ISO", "year"])
    anchor_cur = F.max(
        F.when(F.col("year") == base_year, F.col("gdp_cur"))
    ).over(w_iso)
    con = con.withColumn("gdp_con", F.col("gdp_cg") * anchor_cur)

    # per-country deflator (code/03:85-87)
    defl = con.select(
        "ISO",
        "year",
        (F.col("gdp_cur") / F.col("gdp_con")).alias("gdp_defl"),
    ).withColumns({"source": F.lit("WEO"), "ver": F.lit(weo_ver)})

    # DAC aggregate: ratio of sums over members (A7, code/03:122-123)
    dac = (
        con.filter(F.col("ISO").isin(OECD_DAC_ISO3))
        .groupBy("year")
        .agg(
            (
                F.sum("gdp_cur").cast("double")
                / F.sum("gdp_con").cast("double")
            ).alias("gdp_defl")
        )
        .select(
            F.lit("DAC").alias("ISO"),
            "year",
            "gdp_defl",
            F.lit("WEO").alias("source"),
            F.lit(weo_ver).alias("ver"),
        )
    )
    defl = defl.unionByName(dac)

    # X7 territory fan-out with replace semantics (code/03:131-147)
    defl = _replace_with_copies(defl, TERRITORY_COPIES)

    if approximate_missing:
        defl = _approximate_missing(defl, con)

    return defl.select(
        "ISO",
        "year",
        F.lit(base_year).alias("base_year"),
        F.lit(currency).alias("currency"),
        "source",
        "ver",
        "gdp_defl",
    ).orderBy("ISO", "year")


def _approximate_missing(defl: DataFrame, con: DataFrame) -> DataFrame:
    """code/03:150-175 — extrapolate null deflator years with the country's
    average geometric growth of the cur/con ratio.

    Forward tail (years past the last known deflator) compounds ``defg``
    per step; leading head compounds ``1/defg`` backwards from the first
    known value. Rows replaced get source 'WEO_est'.
    """
    w_iso = Window.partitionBy("ISO")

    # countries with any missing deflator year
    has_missing = F.max(
        F.col("gdp_defl").isNull().cast("int")
    ).over(w_iso) == 1
    defl = defl.withColumn("__has_missing", has_missing)

    # per-ISO average geometric growth of gdp_cur and gdp_con over their
    # non-null spans (A10, code/03:154-157) → defg = curg / cong
    def _geo(col: str):
        good_year = F.when(F.col(col).isNotNull(), F.col("year"))
        return (
            F.pow(
                F.max_by(col, good_year) / F.min_by(col, good_year),
                1.0 / (F.max(good_year) - F.min(good_year)),
            )
        )

    growth = con.groupBy("ISO").agg(
        (_geo("gdp_cur") / _geo("gdp_con")).alias("defg")
    )

    # span of known deflators per ISO
    good = F.when(F.col("gdp_defl").isNotNull(), F.col("year"))
    defl = defl.withColumn("__max_good", F.max(good).over(w_iso)).withColumn(
        "__min_good", F.min(good).over(w_iso)
    )
    # anchor values at the span edges
    last_val = F.max(
        F.when(F.col("year") == F.col("__max_good"), F.col("gdp_defl"))
    ).over(w_iso)
    first_val = F.max(
        F.when(F.col("year") == F.col("__min_good"), F.col("gdp_defl"))
    ).over(w_iso)
    defl = defl.withColumn("__last_val", last_val).withColumn(
        "__first_val", first_val
    )
    defl = defl.join(F.broadcast(growth), "ISO", "left")

    fwd = F.col("__has_missing") & F.col("gdp_defl").isNull() & (
        F.col("year") > F.col("__max_good")
    )
    bwd = F.col("__has_missing") & F.col("gdp_defl").isNull() & (
        F.col("year") < F.col("__min_good")
    )
    # step counts: k years past/before the anchor → defg^k / (1/defg)^k
    est = F.when(
        fwd,
        F.col("__last_val")
        * F.pow(F.col("defg"), F.col("year") - F.col("__max_good")),
    ).when(
        bwd,
        F.col("__first_val")
        * F.pow(1.0 / F.col("defg"), F.col("__min_good") - F.col("year")),
    )
    out = defl.withColumn(
        "source",
        F.when(est.isNotNull(), F.concat(F.col("source"), F.lit("_est")))
        .otherwise(F.col("source")),
    ).withColumn("gdp_defl", F.coalesce(est, F.col("gdp_defl")))
    return out.drop(
        "__has_missing", "__max_good", "__min_good", "__last_val",
        "__first_val", "defg",
    )
