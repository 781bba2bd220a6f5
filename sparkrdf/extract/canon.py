"""Predicate canonicalization against a broadcast ontology/namespace map.

Generalizes the reference's label→IRI collapse (rdf_id_to_adb_label,
main.py:1709-1725, and the Property-collection uri_map, main.py:372-379):
raw predicate labels map onto canonical predicate IRIs via a broadcast
dictionary; unknown labels fall back to a minted IRI under the KG namespace
(the reference's ``{graph_ns}/{key}`` fallback, main.py:1995).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkrdf.extract.gazetteer import KG, PREDICATES
from sparkrdf.localdf import local_rows_df


def canonical_predicates_df(spark) -> DataFrame:
    return local_rows_df(spark, PREDICATES.items(), "raw_label string, canon_iri string")


def canonicalize(spark, df: DataFrame, label_col: str = "p_label") -> DataFrame:
    """Add ``p`` = canonical predicate IRI for the raw ``label_col``."""
    cmap = F.broadcast(canonical_predicates_df(spark))
    return (
        df.join(cmap, df[label_col] == cmap["raw_label"], "left")
        .withColumn(
            "p",
            F.coalesce(F.col("canon_iri"), F.concat(F.lit(KG + "prop/"), F.col(label_col))),
        )
        .drop("raw_label", "canon_iri")
    )
