"""Engine-native parquet sink (reference K1's data plane, minus styling).

Scale design: partition by ``source_type`` (3-way, matches the reference's
per-source sheets and makes per-source reads partition-pruned); arrays stay
real arrays in parquet — the comma-join flattening (reference D4/D10,
``parsers_manager.py:198-230``, ``excel_formatter.py:347-438``) is a
presentation concern applied only by ``flatten_for_presentation``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

# Fields the reference comma-joins vs first-element (parsers_manager.py:201-230)
JOINED_ARRAY_FIELDS = {
    "authors", "full_authors", "keywords", "keywords_plus",
    "mesh_terms", "affiliation",
}
FIRST_ELEMENT_FIELDS = {"issn"}


def flatten_for_presentation(df: DataFrame) -> DataFrame:
    """Apply the reference's array-flattening policy (D4): configured
    fields comma-join, everything else array-valued takes its first
    element; nulls render ``''`` (D10)."""
    cols = {}
    for name, dtype in df.dtypes:
        if not dtype.startswith("array"):
            continue
        if name in JOINED_ARRAY_FIELDS:
            cols[name] = F.array_join(F.col(name), ", ")
        else:
            # F.get (0-based) returns null for empty arrays; element_at
            # THROWS under Spark 4's default ANSI mode — an empty issn
            # list aborted the whole presentation write
            cols[name] = F.get(F.col(name), 0)
    out = df.withColumns(cols)
    return out.select(
        [
            F.coalesce(F.col(c).cast(StringType()), F.lit("")).alias(c)
            if t.startswith(("string", "array")) or c in cols
            else F.col(c)
            for c, t in out.dtypes
        ]
    )


def write_parquet(df: DataFrame, path: str, partition_by: str | None = "source_type") -> None:
    """Partitioned parquet write — the engine's canonical sink."""
    w = df.write.mode("overwrite")
    if partition_by and partition_by in df.columns:
        w = w.partitionBy(partition_by)
    w.parquet(path)
