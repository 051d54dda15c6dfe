"""nominatimwrapper_spark — a from-scratch PySpark-native geocoding +
spatial-join engine with the query/data-processing capabilities of
SmalsResearch/NominatimWrapper (reference read-only at /root/reference).

Architecture: DataFrame/SQL-first. The reference's per-address REST calls
(Nominatim/Photon/libpostal services) are replaced by in-cluster broadcast
gazetteer joins and vectorized pandas/Arrow UDFs; its pandas MultiIndex
frames become fixed-schema columnar DataFrames.

Layout
------
functions/   scalar kernels: text extraction, address cleansing, the
             compare family and its threshold (Damerau-Levenshtein,
             fingerprint, inclusion), geo (haversine, S2 / H3 cell ids,
             grid tiles)
operators/   dataflow operators: geocode cascade (Spark data movement) and
             geocode kernel (the ladder's pandas decisions, shared by both
             engines), point-in-polygon, kNN, tile rollups, dedup
             (exact/MinHash/SimHash), similarity search, text stats, as-of
             dedup
sources/     partitioned parquet reader/writer + per-partition checkpoint
             manifests (resume without recompute)
streaming/   Structured Streaming: the geocode stream (first-seen recrawl
             dedup, flagship per micro-batch, checkpoint resume)
"""

__version__ = "0.1.0"
