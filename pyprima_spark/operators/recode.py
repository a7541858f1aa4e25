"""Dictionary-based recoding.

The reference repeatedly loads a two-column dictionary CSV, builds a
python dict, and renames/relabels rows before regrouping (e.g. country
renaming in clean_load_data_ENTSOE, correction_functions.py:298-313;
sector reclassification in clean_sector_shares_Eurostat:342-368).

Spark-first: the dict becomes a map literal inside one projection,
looked up with ``try_element_at`` — no join, no shuffle, and no Python
round trip (a ``createDataFrame`` dictionary would start Python workers
and run a broadcast job on every plan that recodes). Unmatched keys
keep their original value (``coalesce``), matching ``dict.get(k, k)``
semantics; a NULL key stays NULL.
"""

from __future__ import annotations

from itertools import chain

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def recode_column(
    df: DataFrame,
    col: str,
    mapping: dict[str, str],
    out_col: str | None = None,
) -> DataFrame:
    out_col = out_col or col
    lookup = F.create_map(*(F.lit(x) for x in chain.from_iterable(mapping.items())))
    return df.withColumn(
        out_col, F.coalesce(F.try_element_at(lookup, F.col(col)), F.col(col))
    )


def mapping_values_sql(mapping: dict[str, str]) -> str:
    """Render the same mapping as a VALUES table for the oracle."""
    rows = ", ".join(f"('{k}', '{v}')" for k, v in mapping.items())
    return f"(VALUES {rows}) AS __m(__recode_key, __recode_val)"
