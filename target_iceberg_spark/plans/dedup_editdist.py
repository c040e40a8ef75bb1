"""Edit-distance dedup verify (SURVEY.md §2B dedup north star)."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from target_iceberg_spark.operators.dedup import minhash_candidate_pairs
from target_iceberg_spark.plans.dedup_sql import BANDS, NUM_HASHES, _minhash_ctes
from target_iceberg_spark.plans.registry import register
from target_iceberg_spark.sources.tables import load_table


@register(
    "dedup_editdist",
    oracle=f"""
WITH {{MINHASH}}
SELECT c.id_a, c.id_b,
       CAST(levenshtein(a.text, b.text) AS INT) AS lev,
       ROUND(1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE)
                   / GREATEST(len(a.text), len(b.text)), 6) AS lev_sim
FROM cand c
JOIN documents a ON a.doc_id = c.id_a
JOIN documents b ON b.doc_id = c.id_b
""".replace("{MINHASH}", _minhash_ctes()),
    tags=("dedup", "editdist"),
)
def dedup_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level edit-distance verify on LSH candidate pairs —
    the fuzzy-dedup confirmation step when token-set Jaccard is too
    coarse (reorderings, small in-place edits). Levenshtein is O(len^2)
    per pair, which is exactly why it only ever runs on the LSH-blocked
    candidate set, never all pairs."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_candidate_pairs(
        docs, "doc_id", "text", n=3, num_hashes=NUM_HASHES, bands=BANDS
    )
    texts = docs.select("doc_id", "text")
    lev = F.levenshtein(F.col("a.text"), F.col("b.text"))
    sim = F.lit(1.0) - lev.cast("double") / F.greatest(
        F.length("a.text"), F.length("b.text")
    )
    return (
        pairs.join(texts.alias("a"), F.col("id_a") == F.col("a.doc_id"))
        .join(texts.alias("b"), F.col("id_b") == F.col("b.doc_id"))
        .select("id_a", "id_b", lev.alias("lev"), F.round(sim, 6).alias("lev_sim"))
    )
