"""Large-scale training-data pipeline operators (beyond-reference):

- ``textstats``  — tokenization, quality scoring, language-ID heuristic,
                   document fingerprinting.
- ``dedup``      — exact, n-gram Jaccard, MinHash+LSH, SimHash,
                   embedding-cosine near-duplicate detection.
- ``similarity`` — cosine top-k search (brute force + IVF bucketed).
- ``multimodal`` — binary-column plumbing for image/audio payloads
                   (decode stubbed; Spark-side schema/batching real).

All hot paths stay JVM-side (built-in functions over arrays/strings);
hashes use md5 (stable across engines) so every operator is
oracle-checkable in DuckDB. Higher-order-function lambdas are
interpreted per element and recompute any outer expression they use,
so select an array into a column before any lambda reads it.
"""
