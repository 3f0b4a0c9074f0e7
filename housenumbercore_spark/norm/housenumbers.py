"""Housenumber normalization — column expressions (no UDFs).

Reference semantics reproduced exactly:

- sortable key: prepend ``max(0, 4 - len(leading digit run))`` zeros to the
  *whole* housenumber string ("1"→"0001", "47 1/2"→"0047 1/2",
  "11 1/128b"→"0011 1/128b"; no leading digits → "0000"+text).
  /root/reference/src/de/regioosm/housenumbercore/util/Address.java:337-360,
  constant HAUSNUMMERSORTIERBARLENGTH=4 (Address.java:33); same logic in
  theoreticalhousenumbercore/util/Workcache_Entry.java:504-528.

- multi-value split: "1,3;5" → rows 1, 3, 5 — ',' first normalized to ';',
  then split. /root/reference/src/de/regioosm/theoreticalhousenumbercore/
  TheoreticalHousenumbers.java:1012-1014, 1157-1159, 1286-1288.

- range expansion: "2-8" → 2,4,6,8 (step 2, inclusive) only when both sides
  parse as integers and end > start; a "-" value that fails to parse or has
  end <= start expands to NOTHING (the reference returns an empty array and
  the row vanishes). No "-" → the value itself, untouched.
  TheoreticalHousenumbers.Hausnummernbereich_aufloesen:292-316.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SORTABLE_LEN = 4  # Address.java:33 HAUSNUMMERSORTIERBARLENGTH


def housenumber_sortable(hnr: Column | str) -> Column:
    hnr = F.col(hnr) if isinstance(hnr, str) else hnr
    ndigits = F.length(F.regexp_extract(hnr, r"^[0-9]*", 0))
    pad = F.greatest(F.lit(0), F.lit(SORTABLE_LEN) - ndigits)
    return F.concat(F.repeat(F.lit("0"), pad), hnr)


def housenumber_sortable_sql(expr: str) -> str:
    """DuckDB/ANSI twin of :func:`housenumber_sortable`."""
    nd = f"LENGTH(regexp_extract({expr}, '^[0-9]*', 0))"
    return f"(repeat('0', GREATEST(0, {SORTABLE_LEN} - {nd})) || {expr})"


def split_multi(hnr: Column | str) -> Column:
    """"1,3;5" → array('1','3','5') (trimmed). Explode at the call site."""
    hnr = F.col(hnr) if isinstance(hnr, str) else hnr
    return F.transform(
        F.split(F.regexp_replace(hnr, ",", ";"), ";"), lambda x: F.trim(x)
    )


# widest range a '2-8'-style housenumber may expand to before it is
# treated as a parse failure: no real street numbers this far, and an
# unbounded expansion lets one garbage row ('1-2000000001') abort the
# job on Spark's sequence length limit. Mirrored in oracles.hnr_explode_sql.
RANGE_EXPAND_CAP = 20_000


def expand_range(hnr: Column | str) -> Column:
    """One housenumber text → array of expanded values (possibly empty).

    "2-8" → ['2','4','6','8']; "8-2" → []; "2-8a" → [] (parse failure);
    "13a" → ['13a']. Bounds that overflow int (an ANSI-mode plain cast
    would abort the whole job on one pasted phone number) or spans beyond
    RANGE_EXPAND_CAP are parse failures → [].
    """
    hnr = F.col(hnr) if isinstance(hnr, str) else hnr
    has_dash = hnr.contains("-")
    start_s = F.trim(F.substring_index(hnr, "-", 1))
    end_s = F.trim(F.substring_index(hnr, "-", -1))
    is_int = lambda c: c.rlike(r"^[0-9]+$")  # noqa: E731
    start_i = start_s.try_cast("int")
    end_i = end_s.try_cast("int")
    valid = (
        has_dash
        & (F.length(hnr) - F.length(F.regexp_replace(hnr, "-", "")) == 1)
        & is_int(start_s)
        & is_int(end_s)
        & (end_i > start_i)  # NULL (overflowed try_cast) compares false
        & (end_i - start_i <= RANGE_EXPAND_CAP)
    )
    return (
        F.when(~has_dash, F.array(hnr))
        .when(
            valid,
            F.transform(F.sequence(start_i, end_i, F.lit(2)), lambda x: x.cast("string")),
        )
        .otherwise(F.array().cast("array<string>"))
    )


def explode_housenumbers(df: DataFrame, hnr_col: str = "housenumber") -> DataFrame:
    """Full normalization: multi-split then range-expand then explode.

    Replaces the reference's per-row loop (TheoreticalHousenumbers.java:
    1012-1034) with two generator expressions that stay in codegen.
    """
    return (
        df.withColumn("__hnr_part", F.explode(split_multi(hnr_col)))
        .withColumn("__hnr_final", F.explode(expand_range(F.col("__hnr_part"))))
        .drop(hnr_col, "__hnr_part")
        .withColumnRenamed("__hnr_final", hnr_col)
    )
