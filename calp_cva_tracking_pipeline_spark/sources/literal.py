"""Small literal tables planned inside the JVM.

``spark.createDataFrame(rows, ddl)`` ships Python rows through a PythonRDD:
the first action on it starts Python workers on every task slot, and a
broadcast of it runs a job. The hand-curated patch maps, override lists and
fan-out maps this engine joins against are tens of rows, so that start-up is
pure overhead. ``literal_table`` spells the same rows as a parameterized
``VALUES`` query instead: it plans as a ``LocalTableScan`` and a broadcast of
it runs no job.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def literal_table(
    spark: SparkSession, rows: Sequence[Sequence], ddl: str
) -> DataFrame:
    """``rows`` as a DataFrame with the column names and types of ``ddl``
    (e.g. ``"name string, target string"``).

    Values are bound as named SQL parameters, never spliced into the SQL
    text, and each column is CAST to its declared type. An empty ``rows``
    selects typed NULLs ``WHERE false``, so the schema is the same either
    way. Column nullability follows the values, as for any ``VALUES`` list.
    """
    fields = StructType.fromDDL(ddl).fields
    width = len(fields)
    if not rows:
        select = ", ".join(
            f"CAST(NULL AS {f.dataType.simpleString()}) AS {_quote(f.name)}"
            for f in fields
        )
        return spark.sql(f"SELECT {select} WHERE false")
    args = {}
    values = []
    for i, row in enumerate(rows):
        if len(row) != width:
            raise ValueError(
                f"row {i} has {len(row)} values, the schema {width}: {row!r}"
            )
        marks = []
        for j, v in enumerate(row):
            args[f"p{i}_{j}"] = v
            marks.append(f":p{i}_{j}")
        values.append("(" + ", ".join(marks) + ")")
    select = ", ".join(
        f"CAST(c{j} AS {f.dataType.simpleString()}) AS {_quote(f.name)}"
        for j, f in enumerate(fields)
    )
    aliases = ", ".join(f"c{j}" for j in range(width))
    return spark.sql(
        f"SELECT {select} FROM VALUES {', '.join(values)} AS t({aliases})",
        args=args,
    )
