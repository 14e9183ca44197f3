"""Operator library: SURVEY.md §2 inventory as (Spark builder, DuckDB oracle) pairs.

Modules:
    relational.py  — scans/filters/joins/aggs/windows/sorts/set-ops/scalar fns
    dedup.py       — exact, MinHash-LSH, SimHash, n-gram Jaccard dedup
    similarity.py  — brute-force + LSH-bucketed cosine ANN over embeddings; one
                     Arrow-matmul projection (_project), one dot fold (_dot)
    textstats.py   — language-ID, quality scoring, token counts, fingerprints
    registry.py    — the merged name → Op map consumed by __spark_entry__.py
"""
