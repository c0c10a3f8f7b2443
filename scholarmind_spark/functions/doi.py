"""DOI normalization and link expressions.

The reference has five divergent DOI cleaners (``main.py:68-99`` column prep,
``main.py:123-144`` dedup-scan re-normalization, ``main.py:214-236`` link
variant, ``parsers_manager.py:232-237``, ``pubmed_parser.py:179-184``).
The rebuild unifies on ONE canonical chain (SURVEY.md §2.8 D1):

1. remove literal ``" [doi]"`` / ``" [pii]"`` markers  (main.py:73-76,84)
2. comma-lists: pick the first trimmed part starting ``"10."``; if none,
   keep the whole string                               (main.py:87-96,128-137)
3. strip a leading ``"https://doi.org/"`` or ``"doi:"`` prefix
   (case-sensitive, checked before lowercasing)        (main.py:140-143)
4. ``trim`` + ``lower``                                (main.py:98,144)

All steps are built-in Column expressions — no UDF, fully codegen'd, and the
identical chain is emitted as ANSI SQL by :func:`doi_norm_sql` so the DuckDB
oracle computes byte-identical values.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def doi_norm(col: Column | str) -> Column:
    """Canonical DOI normalization (reference D1).

    Written to keep the expression tree LINEAR: each ``when(...).otherwise(c)``
    that repeats ``c`` multiplies the whole prior subtree, and the naive
    4-step chain blows up to ~50 copies of the regexp/lambda subtree
    (observed: ~100 s of Catalyst optimization for one projection).  Hence
    the comma-pick uses ``coalesce`` + null-safe ``F.get`` (one fallback
    copy) and the prefix strip is a single anchored ``regexp_replace``
    instead of two ``when``+``substr`` steps.
    """
    c = F.col(col) if isinstance(col, str) else col
    s1 = F.regexp_replace(
        F.regexp_replace(c, r" \[doi\]", ""), r" \[pii\]", ""
    )
    parts = F.filter(
        F.transform(F.split(s1, ","), lambda x: F.trim(x)),
        lambda x: x.startswith("10."),
    )
    # comma present and a "10."-part found → that part, else the whole string
    picked = F.coalesce(F.when(s1.contains(","), F.get(parts, 0)), s1)
    stripped = F.regexp_replace(picked, r"^(https://doi\.org/|doi:)", "")
    return F.lower(F.trim(stripped))


def doi_norm_sql(expr: str) -> str:
    """The same normalization chain as ANSI SQL over DuckDB builtins.

    Kept textually adjacent to :func:`doi_norm` so the two stay in sync;
    tests assert they agree on every reference branch.
    """
    s1 = f"replace(replace({expr}, ' [doi]', ''), ' [pii]', '')"
    picked = (
        f"list_filter(list_transform(string_split({s1}, ','), x -> trim(x)),"
        f" x -> starts_with(x, '10.'))"
    )
    s2 = (
        f"CASE WHEN contains({s1}, ',') AND len({picked}) > 0"
        f" THEN {picked}[1] ELSE {s1} END"
    )
    s3 = (
        f"CASE WHEN starts_with({s2}, 'https://doi.org/') THEN substring({s2}, 17)"
        f" WHEN starts_with({s2}, 'doi:') THEN substring({s2}, 5)"
        f" ELSE {s2} END"
    )
    return f"lower(trim({s3}))"


def doi_link(col: Column | str) -> Column:
    """``safe_doi_link`` (reference D7, main.py:200-277): https://doi.org/ +
    normalized DOI when non-empty, else ``''``."""
    norm = doi_norm(col)
    return F.when(
        norm.isNotNull() & (norm != ""), F.concat(F.lit("https://doi.org/"), norm)
    ).otherwise(F.lit(""))
