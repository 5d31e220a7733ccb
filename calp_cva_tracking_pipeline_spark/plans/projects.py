"""Project-feature program (reference code/07_process_project_data.R:94-165).

Builds the (project_id, cva_percentage, cva) features that EP2's
classify_cva consumes, from the long Q&A table: labeled-question splits,
the branch-ordered percentage standardizer re-expressed as ONE native
when-chain (M3 — no Python UDF, stays in codegen), boolean normalization
(C3), clamp-sum (A1) and bool-max (A2) aggregates, the two-way overlap
reconciliation (the reference's SO1 anti-joins) and J5 full-outer merge,
and the final cva override rules. The whole program is one scan of the
Q&A table, one broadcast join to the label table and one per-project
aggregate; the reconciliation and merge are column expressions over it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# the quant answer screen (code/07:100-101)
ANSWER_NUMBER_PATTERN = "\\d+\\.\\d+|\\d+%|\\d+"

_PCT = "(\\d+(\\.\\d+)?)%"
_PCT_WORD = "(\\d+(\\.\\d+)?) percent"


def standardize_percentage(answer: Column) -> Column:
    """code/07:104-128's sapply UDF as a native expression, branch order
    preserved EXACTLY — order matters: 'less than 1%' hits the '%' branch
    (→ 1.0) before the 'less than 1' branch (→ 0) ever runs.

    1. contains '%'            → first \\d+(\\.\\d+)?% match, '%' stripped
    2. contains 'less than 1'  → 0
    3. contains 'percent'      → first \\d+(\\.\\d+)? percent match
    4. ^[0-9]+(\\.[0-9]+)?$    → the number itself
    5. else                    → R's gsub returns the input unchanged when
       the pattern misses, so the fallback strips non-numeric chars from
       the whole answer; empty → null.
    Every branch then strips [^0-9.] and casts to double (null on failure).
    """
    x = F.trim(F.lower(answer))
    branch = (
        F.when(x.contains("%"), F.regexp_extract(x, _PCT, 1))
        .when(x.contains("less than 1"), F.lit("0"))
        .when(x.contains("percent"), F.regexp_extract(x, _PCT_WORD, 1))
        .when(x.rlike("^[0-9]+(\\.[0-9]+)?$"), x)
        .otherwise(F.regexp_replace(x, "[^0-9.]", ""))
    )
    cleaned = F.regexp_replace(branch, "[^0-9.]", "")
    return F.when(cleaned == "", F.lit(None)).otherwise(
        cleaned.cast("double")
    )


def standardize_boolean(answer: Column) -> Column:
    """C3 — tolower(x) %in% c('true','qui','yes') (code/07:134-139)."""
    return F.lower(F.trim(answer)).isin("true", "qui", "yes")


def build_project_features(
    projects_qa: DataFrame,
    question_labels: DataFrame,
) -> DataFrame:
    """→ (project_id, cva_percentage, cva) — the cash_projects.csv contract.

    ``projects_qa``: long (project_id, question, answer);
    ``question_labels``: (question, question_type) with types from
    {quantC, quantV, flagCVA, ...} (reference cva_project_questions.csv).
    A null ``project_id`` is one project: its quant and flag answers meet
    in one group and yield one row (R's ``setdiff``/``merge`` match NA
    keys by default; Spark's anti and outer joins never match NULL, so a
    join-based formulation would emit unmerged null rows instead).
    """
    qt = F.col("question_type")
    labels = question_labels.filter(
        qt.isin("quantC", "quantV", "flagCVA")
    ).select("question", "question_type")
    # quant rows: labeled questions with digit-bearing answers (F10,
    # code/07:100-101); flag rows: every flagCVA-labeled answer
    is_quant = qt.isin("quantC", "quantV") & F.col("answer").rlike(
        ANSWER_NUMBER_PATTERN
    )
    is_flag = qt == "flagCVA"
    # ONE scan, ONE broadcast join, ONE per-project aggregate: quant count,
    # A1 sum of the branch chain (code/07:104-132), flag count, A2 bool-max
    # (code/07:134-143). CASE WHEN evaluates the chain only on quant rows.
    agg = (
        projects_qa.join(F.broadcast(labels), "question")
        .groupBy("project_id")
        .agg(
            F.count(F.when(is_quant, F.lit(1))).alias("__nq"),
            F.sum(
                F.when(is_quant, standardize_percentage(F.col("answer")))
            ).alias("__sum"),
            F.count(F.when(is_flag, F.lit(1))).alias("__nf"),
            F.max(
                F.when(
                    is_flag, standardize_boolean(F.col("answer")).cast("int")
                )
            ).alias("__fmax"),
        )
    )
    nq, nf = F.col("__nq"), F.col("__nf")
    # least() skips nulls: a quant side whose answers all standardize to
    # null clamps to 100% (pinned by the parity tests)
    pct_q = F.least(F.lit(100.0), F.col("__sum")) / 100.0
    flag = F.col("__fmax") == 1
    # overlap reconciliation (code/07:146-160) as column expressions:
    # flagged-FALSE projects without a quant row gain 0%, projects
    # quantified at 0% without a flag row gain cva=FALSE; a null flag
    # (all answers null) gains neither
    pct = F.when(nq > 0, pct_q).when((nf > 0) & ~flag, F.lit(0.0))
    cva = F.when(nf > 0, flag).when((nq > 0) & (pct_q == 0), F.lit(False))
    # J5 merge + final override: pct>0 → TRUE, pct==0 → FALSE
    # (code/07:158-160)
    return agg.filter((nq > 0) | (nf > 0)).select(
        "project_id",
        pct.alias("cva_percentage"),
        F.when(pct > 0, F.lit(True))
        .when(pct == 0, F.lit(False))
        .otherwise(cva)
        .alias("cva"),
    )


def project_text(projects_qa: DataFrame) -> DataFrame:
    """project_text.csv contract — distinct id/name/objective rows
    (code/07:164-165, D3)."""
    return projects_qa.select(
        "project_id", "project_name", "project_objective"
    ).dropDuplicates()
