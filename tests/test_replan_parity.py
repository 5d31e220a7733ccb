"""Parity and plan-shape guards for the single-pass EP2/EP3 engine functions.

``build_project_features`` runs as one broadcast join + one per-project
aggregate and ``match_org_names`` as one broadcast left join + one grouped
pick. The oracles below are the multi-branch formulations those replaced
(quant/flag aggregates + anti-joins + full outer merge; pair cross join +
full pair aggregate + join back), kept here so Hypothesis can compare the
two on arbitrary inputs. Outputs must agree exactly, floats included.
"""

from __future__ import annotations

from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from calp_cva_tracking_pipeline_spark.functions.text import (
    canonicalize_name,
    regex_quote,
)
from calp_cva_tracking_pipeline_spark.plans.constants import (
    FUZZY_VETO,
    MANUAL_ORG_OVERRIDES,
    MANUAL_ORG_PATTERN_OVERRIDES,
)
from calp_cva_tracking_pipeline_spark.plans.matching import (
    UNMATCHABLE_NAMES,
    match_org_names,
    subtract_subgrants,
)
from calp_cva_tracking_pipeline_spark.plans.projects import (
    ANSWER_NUMBER_PATTERN,
    build_project_features,
    standardize_boolean,
    standardize_percentage,
)
from calp_cva_tracking_pipeline_spark.sources.literal import literal_table

# --- oracles -----------------------------------------------------------------


def _features_oracle(qa: DataFrame, labels: DataFrame) -> DataFrame:
    quant_qs = labels.filter(
        F.col("question_type").isin("quantC", "quantV")
    ).select("question")
    flag_qs = labels.filter(F.col("question_type") == "flagCVA").select(
        "question"
    )
    quant = (
        qa.join(F.broadcast(quant_qs), "question")
        .filter(F.col("answer").rlike(ANSWER_NUMBER_PATTERN))
        .withColumn("__pct", standardize_percentage(F.col("answer")))
        .groupBy("project_id")
        .agg(
            (F.least(F.lit(100.0), F.sum("__pct")) / 100.0).alias(
                "cva_percentage"
            )
        )
    )
    flags = (
        qa.join(F.broadcast(flag_qs), "question")
        .withColumn("__b", standardize_boolean(F.col("answer")))
        .groupBy("project_id")
        .agg((F.max(F.col("__b").cast("int")) == 1).alias("cva"))
    )
    zero_to_bool = (
        quant.filter(F.col("cva_percentage") == 0)
        .join(flags.select("project_id"), "project_id", "left_anti")
        .select("project_id", F.lit(False).alias("cva"))
    )
    flags = flags.unionByName(zero_to_bool)
    bool_to_zero = (
        flags.filter(~F.col("cva"))
        .join(quant.select("project_id"), "project_id", "left_anti")
        .select("project_id", F.lit(0.0).alias("cva_percentage"))
    )
    quant = quant.unionByName(bool_to_zero)
    merged = quant.join(flags, "project_id", "full_outer")
    cva = (
        F.when(F.col("cva_percentage") > 0, F.lit(True))
        .when(F.col("cva_percentage") == 0, F.lit(False))
        .otherwise(F.col("cva"))
    )
    return merged.withColumn("cva", cva)


def _match_oracle(
    left_names, right_names, overrides=None, patterns=None, veto=None
) -> DataFrame:
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
    dist = F.levenshtein(F.col("name"), F.col("rname"))
    threshold = F.greatest(
        F.lit(1), F.ceil(F.length(F.col("name")) * F.lit(0.2))
    )
    is_exact = F.col("name") == F.col("rname")
    is_fuzzy = (
        (
            F.abs(F.length(F.col("name")) - F.length(F.col("rname")))
            <= threshold
        )
        & (F.col("name") != F.col("rname"))
        & (dist <= threshold)
    )
    if veto:
        is_fuzzy = is_fuzzy & ~F.col("name").isin(list(veto))
    pairs = (
        lc.crossJoin(F.broadcast(rc))
        .withColumn(
            "__pl",
            F.concat(F.lit("\\b"), regex_quote(F.col("name")), F.lit("\\b")),
        )
        .withColumn(
            "__pr",
            F.concat(F.lit("\\b"), regex_quote(F.col("rname")), F.lit("\\b")),
        )
    )
    is_sub_a = F.col("rname").contains(F.col("name")) & F.expr(
        "rlike(rname, __pl)"
    )
    is_sub_b = F.col("name").contains(F.col("rname")) & F.expr(
        "rlike(name, __pr)"
    )
    picks = pairs.groupBy("name").agg(
        F.max(F.when(is_exact, F.col("rname"))).alias("exact_match"),
        F.min(
            F.when(
                is_fuzzy, F.struct(dist.alias("d"), F.col("rname").alias("m"))
            )
        ).alias("__f"),
        F.min(
            F.when(
                is_sub_a,
                F.struct(
                    F.length("rname").alias("d"), F.col("rname").alias("m")
                ),
            )
        ).alias("__a"),
        F.min(
            F.when(
                is_sub_b,
                F.struct(
                    F.length("name").alias("d"), F.col("rname").alias("m")
                ),
            )
        ).alias("__b"),
    )
    out = (
        lc.join(F.broadcast(picks), "name", "left")
        .withColumn(
            "matched_name",
            F.coalesce("exact_match", "__f.m", "__a.m", "__b.m"),
        )
        .withColumn(
            "match_method",
            F.coalesce(
                F.when(F.col("exact_match").isNotNull(), "exact"),
                F.when(F.col("__f").isNotNull(), "fuzzy"),
                F.when(F.col("__a").isNotNull(), "substring_a"),
                F.when(F.col("__b").isNotNull(), "substring_b"),
            ),
        )
        .select("name", "matched_name", "match_method")
    )
    if overrides:
        ovr = out.sparkSession.createDataFrame(
            overrides, "name string, __manual string"
        )
        out = (
            out.join(F.broadcast(ovr), "name", "left")
            .withColumn("matched_name", F.coalesce("__manual", "matched_name"))
            .withColumn(
                "match_method",
                F.when(F.col("__manual").isNotNull(), F.lit("manual"))
                .otherwise(F.col("match_method")),
            )
            .drop("__manual")
        )
    for pattern, target in patterns or []:
        hit = F.col("name").rlike(pattern)
        out = out.withColumn(
            "matched_name",
            F.when(hit, F.lit(target)).otherwise(F.col("matched_name")),
        ).withColumn(
            "match_method",
            F.when(hit, F.lit("manual")).otherwise(F.col("match_method")),
        )
    return out


def _rows(df: DataFrame) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _schema(df: DataFrame) -> list[tuple]:
    return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]


# --- build_project_features ------------------------------------------------

QA_DDL = "project_id string, question string, answer string"
LABEL_DDL = "question string, question_type string"
# answers exercising every standardizer branch: '%', 'less than 1',
# 'percent', bare number, fallback strip; '80 %' / '7percent' standardize
# to null; booleans in the C3 set and out of it; nulls
ANSWERS = [
    None, "0", "0%", "0.0", "25", "12.5%", "100%", "80 %", "less than 1",
    "less than 1%", "30 percent", "7percent", "about 40", "yes", "YES ",
    "no", "true", "False", "qui", "n/a", "",
]
QUESTIONS = ["q1", "q2", "q3", "q4", "q_unlabeled"]
TYPES = ["quantC", "quantV", "flagCVA", "other"]

qa_rows = st.lists(
    st.tuples(
        st.sampled_from([f"P{i}" for i in range(8)] + [None]),
        st.sampled_from(QUESTIONS),
        st.sampled_from(ANSWERS),
    ),
    max_size=40,
)
label_rows = st.lists(
    st.tuples(st.sampled_from(QUESTIONS[:4]), st.sampled_from(TYPES)),
    max_size=8,
)

_PINNED_LABELS = [
    ("q1", "quantC"), ("q2", "quantV"), ("q3", "flagCVA"), ("q4", "other"),
]


def _features_parity(spark, qa, labels):
    """Compare against the oracle on every non-null project id; return
    ``{project_id: (cva_percentage, cva)}`` of the new function.

    A null ``project_id`` is the one deliberate difference: the new
    function keeps it as ONE project (its quant and flag answers meet in
    one group), while the oracle's anti-joins and full outer join never
    match NULL keys and emit one to five unmerged null rows. The null
    group must still never leak into the other projects' rows."""
    qa_df = literal_table(spark, qa, QA_DDL)
    lab_df = literal_table(spark, labels, LABEL_DDL)
    got = build_project_features(qa_df, lab_df)
    want = _features_oracle(qa_df, lab_df)
    assert _schema(got) == _schema(want)
    got_rows = _rows(got)
    assert [r for r in got_rows if r[0] is not None] == [
        r for r in _rows(want) if r[0] is not None
    ]
    assert sum(r[0] is None for r in got_rows) <= 1
    return {r[0]: r[1:] for r in got_rows}


def test_project_features_reconciliation_cases(spark):
    got = _features_parity(
        spark,
        [
            ("Z0", "q1", "0%"),            # quantified at 0%, no flag row
            ("FF", "q3", "no"),            # flagged false, no quant row
            ("NP", "q1", "80 %"),          # every percentage null
            ("NP", "q2", "7percent"),
            ("NF", "q3", None),            # flag answers all null
            ("NF", "q1", "0"),
            ("UL", "q_unlabeled", "50"),   # unlabeled only
            ("UL", "q4", "yes"),           # 'other'-typed only
            ("BT", "q1", "less than 1"),   # 0% and flagged true
            ("BT", "q3", "yes"),
            ("CL", "q1", "70%"),           # clamp at 100
            ("CL", "q2", "60"),
        ],
        _PINNED_LABELS + [("q1", "quantC")],   # duplicate label row
    )
    assert got["Z0"] == (0.0, False)
    assert got["FF"] == (0.0, False)
    assert got["NP"] == (1.0, True)     # least() skips the null sum
    assert got["NF"] == (0.0, False)
    assert "UL" not in got
    assert got["BT"] == (0.0, False)
    assert got["CL"] == (1.0, True)


def test_project_features_null_project_id_is_one_project(spark):
    """Null-id answers on the quant and the flag side merge into ONE row
    and reconcile like any other project (the pre-change formulation
    emitted separate unmerged rows, since its joins never match NULL)."""
    got = _features_parity(
        spark,
        [
            (None, "q1", "0%"),      # quantified at 0% ...
            (None, "q3", "no"),      # ... and flagged false
            ("P0", "q1", "0%"),      # the same answers on a real id
            ("P0", "q3", "no"),
        ],
        _PINNED_LABELS,
    )
    assert got == {None: (0.0, False), "P0": (0.0, False)}
    got = _features_parity(
        spark,
        [(None, "q2", "25"), (None, "q3", "yes"), ("P1", "q3", "no")],
        _PINNED_LABELS,
    )
    assert got == {None: (0.25, True), "P1": (0.0, False)}
    # flag side only: a flagged-false null id gains 0% like P1 above
    got = _features_parity(spark, [(None, "q3", "no")], _PINNED_LABELS)
    assert got == {None: (0.0, False)}


@settings(max_examples=20, deadline=None)
@given(qa=qa_rows, labels=label_rows)
@example(qa=[], labels=[])
@example(qa=[("P0", "q1", "0%")], labels=[])
@example(
    qa=[("P0", "q3", "no"), ("P1", "q1", "0"), ("P1", "q1", "0")],
    labels=[("q1", "quantV"), ("q3", "flagCVA"), ("q3", "flagCVA")],
)
def test_project_features_parity(spark, qa, labels):
    _features_parity(spark, qa, labels)


# --- match_org_names ---------------------------------------------------------

WORDS = [
    "world", "food", "programme", "oxfam", "gb", "save", "the", "children",
    "care", "drc", "nrc", "wfp", "red", "cross", "vision", "a.b", "(x)",
]
phrase = st.lists(st.sampled_from(WORDS), min_size=1, max_size=3).map(
    " ".join
)
noisy = st.text(alphabet="abcd .-", min_size=0, max_size=7)
raw_name = st.one_of(
    phrase,
    phrase,
    noisy,
    st.sampled_from(
        [None, "", "Unknown", "Not provided - potentially sensitive",
         "World  Food Programme!", "Wrold Food Programme"]
    ),
)


def _names(spark, names, col):
    return literal_table(spark, [(n,) for n in names], f"{col} string")


@settings(max_examples=20, deadline=None)
@given(
    left=st.lists(raw_name, max_size=12),
    right=st.lists(raw_name, max_size=10),
    manual=st.booleans(),
    veto=st.sampled_from([None, FUZZY_VETO, ["drc", "gb", "abc"]]),
)
@example(left=["drc", "Oxfam", "Unknown"], right=[], manual=True, veto=None)
@example(left=["drc", "nrcx"], right=["nrc"], manual=False, veto=FUZZY_VETO)
@example(
    left=["Unknown", "not provided potentially sensitive", None, ""],
    right=["unknown"],
    manual=False,
    veto=None,
)
def test_match_org_names_parity(spark, left, right, manual, veto):
    lf, rf = _names(spark, left, "n"), _names(spark, right, "org")
    kw = (
        (MANUAL_ORG_OVERRIDES, MANUAL_ORG_PATTERN_OVERRIDES)
        if manual else (None, None)
    )
    got = match_org_names(lf, rf, *kw, veto)
    want = _match_oracle(lf, rf, *kw, veto)
    assert _schema(got) == _schema(want)
    assert _rows(got) == _rows(want)


# --- plan guards -------------------------------------------------------------


def _executed(df: DataFrame) -> str:
    df.collect()  # the adaptive plan is final only after an action
    return df._jdf.queryExecution().executedPlan().toString()


def test_ep3_plans_run_no_python_source_and_no_cache(spark):
    sub_grants = literal_table(
        spark,
        [("Oxfam", 2023, 1.0), ("WFP", 2023, 2.0), ("drc", 2022, 3.0)],
        "recipient_name string, Year int, amount double",
    )
    cva_agg = literal_table(
        spark,
        [
            ("oxfam gb", 2023, "FALSE", "NGO", 5.0),
            ("world food programme", 2023, "FALSE", "UN", 9.0),
        ],
        "clean_org string, Year int, newMoney string, Org_type string,"
        " `PC.USD.m` double",
    )
    pc_tv = literal_table(
        spark, [(2023, 0.5)], "Year int, PC_average_used double"
    )
    mapping = match_org_names(
        sub_grants.select("recipient_name"),
        cva_agg.select("clean_org"),
        MANUAL_ORG_OVERRIDES,
        MANUAL_ORG_PATTERN_OVERRIDES,
        FUZZY_VETO,
    )
    undoubled, rollup = subtract_subgrants(cva_agg, sub_grants, mapping, pc_tv)
    for df in (mapping, undoubled, rollup):
        plan = _executed(df)
        assert "ExistingRDD" not in plan, plan
        assert "InMemoryRelation" not in plan, plan
        assert "InMemoryTableScan" not in plan, plan
    got = {r["name"]: r["matched_name"] for r in mapping.collect()}
    assert got["wfp"] == "world food programme"   # manual override
    assert got["oxfam"] == "oxfam gb"             # substring_a
    u = {r["clean_org"]: r["PC.USD.m_undoubled"] for r in undoubled.collect()}
    assert u == {"oxfam gb": 4.0, "world food programme": 7.0}
