"""Engine-portable SQL mirrors of the MinHash+LSH pipeline
(operators/dedup.py) used by the DuckDB oracles of dedup_minhash,
dedup_ngram_jaccard, dedup_clusters, and dedup_editdist. No @register
calls here: the module registers no query.
"""

from __future__ import annotations

NUM_HASHES = 16
BANDS = 4


def _shingle_cte() -> str:
    return """
w AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
sh AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(toks) - 1),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
    FROM w
)"""


def _minhash_ctes(num_hashes: int = NUM_HASHES, bands: int = BANDS) -> str:
    # bit-exact mirror of operators/dedup.py::minhash_signatures:
    # one md5 per shingle, Carter-Wegman g_j = (h1 + j*h2) mod 2^32
    mins = ",\n           ".join(
        f"MIN((h1 + {j} * h2) % 4294967296) AS s{j}" for j in range(num_hashes)
    )
    rows = num_hashes // bands
    band_exprs = ",\n           ".join(
        "md5("
        + " || ':' || ".join(f"s{b * rows + r}::VARCHAR" for r in range(rows))
        + f") AS b{b}"
        for b in range(bands)
    )
    band_or = " OR ".join(f"a.b{b} = b.b{b}" for b in range(bands))
    return f"""{_shingle_cte()},
shh AS (
    SELECT doc_id,
           ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h1,
           (('0x' || substr(md5(shingle), 9, 8))::BIGINT | 1) AS h2
    FROM sh
),
sig AS (
    SELECT doc_id,
           {mins}
    FROM shh GROUP BY doc_id
),
bands AS (
    SELECT doc_id,
           {band_exprs}
    FROM sig
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.doc_id < b.doc_id AND ({band_or})
)"""


def _minhash_capped_ctes(
    cap: int, num_hashes: int = NUM_HASHES, bands: int = BANDS
) -> str:
    """Mirror of operators/dedup.py::candidate_pairs with
    ``max_bucket_size`` set: long-form (doc, band_idx, band_key) keys,
    per-bucket occupancy count, buckets above the cap skipped, then the
    same distinct self-equi-join. Appends ``capped_cand`` after the
    shared MinHash CTEs."""
    long_form = "\n    UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, b{b} AS band_key FROM bands"
        for b in range(bands)
    )
    return f"""{_minhash_ctes(num_hashes, bands)},
bl AS (
    {long_form}
),
bsz AS (
    SELECT band_idx, band_key, COUNT(*) AS bucket_n
    FROM bl GROUP BY band_idx, band_key
),
blc AS (
    SELECT bl.doc_id, bl.band_idx, bl.band_key
    FROM bl JOIN bsz USING (band_idx, band_key)
    WHERE bsz.bucket_n <= {cap}
),
capped_cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM blc a JOIN blc b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
)"""
