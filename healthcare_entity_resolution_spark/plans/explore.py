"""Dashboard query surface — the reference's Streamlit pages as engine ops.

Reference behavior (studied at /root/reference/dashboard/pages/
{01_physician_search.py:44-115, 02_referral_network.py:40-90,
03_data_provenance.py:60-111}): each page pandas-loads the latest run's
exported CSVs into driver memory and filters there.  That caps the
dashboard at what one machine can hold; at 100 TB the canonical tables
are themselves big.  Here every page query is a DataFrame plan over the
exported parquet snapshots (:mod:`.export`), so

- equality/range filters (state, specialty, min-confidence, exact NPI /
  canonical id) reach the parquet scan as ``PushedFilters`` — the
  dashboard reads row groups, not the table;
- the name ``contains`` search is the one non-sargable predicate and is
  evaluated in the scan stage after column pruning (only the projected
  columns are read);
- provenance drill-downs broadcast the (tiny) matched-entity id set into
  the mapping/source-record joins instead of pulling those tables to the
  driver.

A thin UI (the static HTML report, a notebook, or a Streamlit page) calls
these and collects only the page-sized result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def search_physicians(
    physicians: DataFrame,
    states: list[str] | None = None,
    specialties: list[str] | None = None,
    min_confidence: float | None = None,
    name_contains: str | None = None,
) -> DataFrame:
    """Page-01 filter panel (01_physician_search.py:44-81) over the
    ``canonical_physicians`` export.  ``isin``/``>=`` push down to the
    scan; the case-insensitive name search matches pandas
    ``str.contains(case=False, na=False)``."""
    out = physicians
    if states:
        out = out.where(F.col("state").isin(states))
    if specialties:
        out = out.where(F.col("specialty").isin(specialties))
    if min_confidence is not None and min_confidence > 0:
        out = out.where(F.col("confidence_score") >= F.lit(min_confidence))
    if name_contains:
        out = out.where(
            F.col("name").isNotNull()
            & F.lower(F.col("name")).contains(name_contains.lower())
        )
    return out


def search_metrics(filtered: DataFrame) -> DataFrame:
    """Page-01 metrics row (01_physician_search.py:86-97): one-row summary
    of a search result — total, mean confidence, NPI coverage, mean source
    count.  A single partial-aggregate job regardless of result size.

    The mean confidence is summed as a decimal: a double sum depends on
    how rows are split into partitions, so the same search would read
    differently (in the last digit) on clusters of different sizes."""
    return filtered.agg(
        F.count("*").alias("total_matching"),
        F.avg(F.col("confidence_score").cast("decimal(38,18)"))
        .cast("double").alias("avg_confidence"),
        F.count("npi").alias("with_npi"),
        F.avg("source_count").alias("avg_sources"),
    )


def physician_provenance(
    physicians: DataFrame,
    mapping: DataFrame,
    source_records: DataFrame | None = None,
    canonical_id: str | None = None,
    npi: str | None = None,
    name_contains: str | None = None,
) -> dict[str, DataFrame]:
    """Page-03 drill-down (03_data_provenance.py:60-111): locate entities
    by name / NPI / canonical id, then pull their source lineage through
    the ``source_canonical_mapping`` (and optionally the full
    ``source_records`` rows).

    Returns ``{"matches", "source_mapping", "source_records"?}``.  The
    matched-id set is broadcast into the mapping join — the big tables
    never shuffle for a point lookup."""
    if canonical_id is not None:
        matches = physicians.where(F.col("id") == canonical_id)
    elif npi is not None:
        matches = physicians.where(F.col("npi") == npi)
    elif name_contains:
        matches = physicians.where(
            F.col("name").isNotNull()
            & F.lower(F.col("name")).contains(name_contains.lower())
        )
    else:
        raise ValueError(
            "physician_provenance: give one of canonical_id / npi / "
            "name_contains"
        )

    ids = matches.select(F.col("id").alias("canonical_id")).distinct()
    src_map = mapping.join(F.broadcast(ids), "canonical_id")
    out = {"matches": matches, "source_mapping": src_map}
    if source_records is not None:
        out["source_records"] = source_records.join(
            F.broadcast(
                src_map.select(F.col("source_record_id").alias("id")).distinct()
            ),
            "id",
        )
    return out


def top_influencers(
    physicians: DataFrame,
    influence: DataFrame | None,
    k: int = 25,
    states: list[str] | None = None,
    specialties: list[str] | None = None,
) -> DataFrame:
    """Page-02 top-influencers table (02_referral_network.py:46-90): join
    influence scores onto the canonical entities (left join, missing score
    = 0.0 like the page's ``fillna(0)``), optional state/specialty filter,
    global top-k by PageRank.  ``orderBy().limit(k)`` compiles to
    TakeOrderedAndProject — per-partition heaps, no global sort."""
    out = search_physicians(physicians, states=states, specialties=specialties)
    if influence is not None:
        inf = influence.select(
            F.col("physician_id").alias("id"),
            F.col("pagerank_score").alias("influence_score"),
            "referral_in_count", "referral_out_count",
        )
        out = out.join(inf, "id", "left").withColumn(
            "influence_score", F.coalesce("influence_score", F.lit(0.0))
        )
    else:
        out = out.select(
            "*", F.lit(0.0).alias("influence_score"),
            F.lit(None).cast("long").alias("referral_in_count"),
            F.lit(None).cast("long").alias("referral_out_count"),
        )
    return out.orderBy(F.desc("influence_score"), F.asc("id")).limit(k)
