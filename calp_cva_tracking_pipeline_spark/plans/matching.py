"""EP3 — global analysis matching + double-count removal
(reference code/10_global_cva_analysis.R:86-324).

The reference matches sub-grant recipient names to survey/FTS organisation
names through four per-name loops (exact → fuzzy → substring both ways),
applies ~20 manual overrides, coalesces the stages, then subtracts matched
sub-grant totals from the primary aggregate with a zero floor. Here the
four stages are set-wise joins over the two SMALL distinct-name lists
(hundreds to low thousands of names — BASELINE.md) so every stage is a
broadcast nested-loop at worst; the 100 TB fact side is never involved
until the final broadcast-mapped subtraction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from calp_cva_tracking_pipeline_spark.functions.text import (
    canonicalize_name,
    regex_quote,
)
from calp_cva_tracking_pipeline_spark.sources.literal import literal_table

# Canonicalized tokens treated as "no recipient" (code/10:99-101)
UNMATCHABLE_NAMES = ["unknown", "not provided potentially sensitive"]


def match_org_names(
    left_names: DataFrame,
    right_names: DataFrame,
    manual_overrides: list[tuple[str, str]] | None = None,
    manual_pattern_overrides: list[tuple[str, str]] | None = None,
    fuzzy_veto: list[str] | None = None,
) -> DataFrame:
    """The 4-stage matcher waterfall → (name, matched_name, match_method).

    ``left_names``/``right_names``: 1-column DataFrames of RAW names; both
    sides are canonicalized (C5) before matching, unmatchable sentinels
    dropped. Stages, coalesced in priority order (C12, code/10:293-299):

    1. exact        — equality on canonical names (code/10:117-124)
    2. fuzzy        — Levenshtein ≤ max(1, ceil(0.2·len)) best match
                      (code/10:129-158), minus ``fuzzy_veto`` names (the
                      reference vetoes 'drc', code/10:158)
    3. substring_a  — left name as whole words inside right (code/10:161-176)
    4. substring_b  — right name inside left (code/10:191-210)
    5. manual       — hand-curated (from, to) overrides applied LAST and
                      unconditionally (code/10:226-285); the reference also
                      has two regex-keyed rules ('world vision…',
                      'red (cross|crescent)'), passed as
                      ``manual_pattern_overrides`` (pattern, to) and applied
                      in list order after the exact overrides. The curated
                      lists themselves ship in plans.constants.
    """
    lc = left_names.select(
        canonicalize_name(F.col(left_names.columns[0])).alias("name")
    ).distinct()
    lc = lc.filter(
        F.col("name").isNotNull()
        & (F.col("name") != "")
        & ~F.col("name").isin(UNMATCHABLE_NAMES)
    )
    rc = right_names.select(
        canonicalize_name(F.col(right_names.columns[0])).alias("rname")
    ).distinct()
    rc = rc.filter(F.col("rname").isNotNull() & (F.col("rname") != ""))
    # the `\b…\b` word-boundary patterns depend on one side only: build
    # them once per name, not once per pair
    lc = lc.withColumn(
        "__pl",
        F.concat(F.lit("\\b"), regex_quote(F.col("name")), F.lit("\\b")),
    )
    rc = rc.withColumn(
        "__pr",
        F.concat(F.lit("\\b"), regex_quote(F.col("rname")), F.lit("\\b")),
    )

    # ALL FOUR stages in ONE broadcast left join + ONE grouped pick. The
    # join condition is the OR of the stage predicates, so only matching
    # pairs reach the aggregate (the nested loop filters the name cross
    # product as it streams), and a name no stage matches keeps its single
    # null-padded row — the output needs no join back to the left names.
    # Each side is consumed exactly once, so nothing is cached. Per-stage
    # tie-breaks are bit-identical to the standalone J10/J11 operators
    # (operators.joins.fuzzy_name_join / substring_join): struct-min
    # (distance, rname) ≡ the fuzzy window's (dist asc, rname asc)
    # row_number cut, struct-min (container_len, rname) ≡ the substring
    # windows' shortest-container-then-lex cut.
    dist = F.levenshtein(F.col("name"), F.col("rname"))
    threshold = F.greatest(
        F.lit(1), F.ceil(F.length(F.col("name")) * F.lit(0.2))
    )
    is_exact = F.col("name") == F.col("rname")
    # cheap short-circuit guard first: levenshtein >= |len(l)-len(r)|,
    # so the length gap rejects most pairs before the O(n·m) DP runs
    # (codegen And evaluates lazily)
    is_fuzzy = (
        (
            F.abs(F.length(F.col("name")) - F.length(F.col("rname")))
            <= threshold
        )
        & (F.col("name") != F.col("rname"))
        & (dist <= threshold)
    )
    if fuzzy_veto:
        is_fuzzy = is_fuzzy & ~F.col("name").isin(list(fuzzy_veto))
    # plain-substring containment is NECESSARY for the word-boundary
    # regex to hit (the pattern is the quoted literal) and evaluates as
    # a fast memmem — short-circuit it before the per-pair regex
    is_sub_a = F.col("rname").contains(F.col("name")) & F.expr(
        "rlike(rname, __pl)"
    )
    is_sub_b = F.col("name").contains(F.col("rname")) & F.expr(
        "rlike(name, __pr)"
    )
    picks = (
        lc.join(
            F.broadcast(rc), is_exact | is_fuzzy | is_sub_a | is_sub_b, "left"
        )
        .groupBy("name")
        .agg(
            F.max(F.when(is_exact, F.col("rname"))).alias("exact_match"),
            F.min(
                F.when(
                    is_fuzzy,
                    F.struct(dist.alias("d"), F.col("rname").alias("m")),
                )
            ).alias("__f"),
            F.min(
                F.when(
                    is_sub_a,
                    F.struct(
                        F.length("rname").alias("d"),
                        F.col("rname").alias("m"),
                    ),
                )
            ).alias("__a"),
            F.min(
                F.when(
                    is_sub_b,
                    F.struct(
                        F.length("name").alias("d"),
                        F.col("rname").alias("m"),
                    ),
                )
            ).alias("__b"),
        )
    )
    out = picks.select(
        "name",
        F.coalesce(
            F.col("exact_match"),
            F.col("__f.m"),
            F.col("__a.m"),
            F.col("__b.m"),
        ).alias("matched_name"),
        F.coalesce(
            F.when(F.col("exact_match").isNotNull(), "exact"),
            F.when(F.col("__f").isNotNull(), "fuzzy"),
            F.when(F.col("__a").isNotNull(), "substring_a"),
            F.when(F.col("__b").isNotNull(), "substring_b"),
        ).alias("match_method"),
    )
    if manual_overrides:
        # manual decisions override every automatic stage (code/10:226-285)
        ovr = literal_table(
            out.sparkSession, manual_overrides, "name string, __manual string"
        )
        out = (
            out.join(F.broadcast(ovr), "name", "left")
            .withColumn(
                "matched_name", F.coalesce("__manual", "matched_name")
            )
            .withColumn(
                "match_method",
                F.when(F.col("__manual").isNotNull(), F.lit("manual"))
                .otherwise(F.col("match_method")),
            )
            .drop("__manual")
        )
    for pattern, target in manual_pattern_overrides or []:
        hit = F.col("name").rlike(pattern)
        out = out.withColumn(
            "matched_name", F.when(hit, F.lit(target)).otherwise(F.col("matched_name"))
        ).withColumn(
            "match_method",
            F.when(hit, F.lit("manual")).otherwise(F.col("match_method")),
        )
    return out


def subtract_subgrants(
    cva_agg: DataFrame,
    sub_grants: DataFrame,
    mapping: DataFrame,
    pc_tv_estimate: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Double-count removal + org-type rollup (code/10:300-324).

    ``cva_agg``: (clean_org, Year, newMoney, Org_type, PC.USD.m);
    ``sub_grants``: (recipient_name RAW, Year, amount);
    ``mapping``: match_org_names output; ``pc_tv_estimate``: (Year,
    PC_average_used). Returns (cva_agg_undoubled, cva_agg_org_type).

    Output columns carry the reference's EXACT sink headers — the added
    columns are ``PC.USD.m_subgrant`` / ``PC.USD.m_undoubled``
    (output/cva_agg.csv) and the rollup is (Year, Org_type, PC.USD.m,
    TV.USD.m) (output/cva_agg_org_type.csv) — pinned by
    tests/test_golden_schemas.py so a downstream consumer of the reference
    CSVs can diff column-for-column.

    Sub-grant totals (A4: sum skips nulls) are subtracted from the primary
    aggregate with a zero floor (J12/C8, code/10:313-315); the org-type
    rollup applies the PC→TV ratio (A5, code/10:316-319). All joins
    broadcast the (small) mapped sub-grant aggregate — the primary
    aggregate is never shuffled.
    """
    sg = sub_grants.withColumn(
        "name", canonicalize_name(F.col("recipient_name"))
    )
    sg = sg.join(F.broadcast(mapping), "name", "left").filter(
        F.col("matched_name").isNotNull()
    )
    # sub-grants count as newMoney FALSE (code/10:301)
    sg_agg = (
        sg.groupBy(
            F.col("matched_name").alias("clean_org"),
            "Year",
            F.lit("FALSE").alias("newMoney"),
        )
        .agg(
            F.coalesce(F.sum("amount"), F.lit(0.0)).alias(
                "PC.USD.m_subgrant"
            )
        )
    )
    undoubled = (
        cva_agg.join(F.broadcast(sg_agg), ["clean_org", "Year", "newMoney"], "left")
        .withColumn(
            "PC.USD.m_subgrant",
            F.coalesce(F.col("`PC.USD.m_subgrant`"), F.lit(0.0)),
        )
        .withColumn(
            "PC.USD.m_undoubled",
            F.greatest(
                F.lit(0.0),
                F.col("`PC.USD.m`") - F.col("`PC.USD.m_subgrant`"),
            ),
        )
    )
    rollup = (
        undoubled.groupBy("Year", "Org_type")
        .agg(F.sum(F.col("`PC.USD.m_undoubled`")).alias("PC.USD.m"))
        .join(F.broadcast(pc_tv_estimate), ["Year"], "left")
        .withColumn(
            "TV.USD.m", F.col("`PC.USD.m`") * F.col("PC_average_used")
        )
        .drop("PC_average_used")
    )
    return undoubled, rollup
