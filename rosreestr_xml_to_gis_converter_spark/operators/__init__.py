"""Engine operators.

``spatial_join``  cell-encode -> broadcast per-cell cover index -> exact PIP refine
``knn``           grid-disk candidate expansion -> ranked distance window
``tiling``        raster<->vector: per-cell parcel masks
``attrs``         reference-semantics relational operators (SURVEY.md §2.1)
``dedupe``        exact / minhash-LSH / simhash / ngram-jaccard dedup
``similarity``    embedding ANN (brute cosine + LSH-bucketed)
``textops``       language-id, quality scores, token counts, fingerprints
"""
