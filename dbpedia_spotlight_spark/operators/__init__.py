"""Large-scale training-data pipeline operators (driver brief): dedup
(exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding cosine),
similarity search (brute-force + LSH ANN), text analysis (lang-ID,
quality, token counts, fingerprints), plus the KG graph, reasoning and
curation operators the jobs compose.

All operators are pure-DataFrame (JVM-side expressions) where possible so
Catalyst keeps pushdown/codegen; Python appears only in Arrow-batched
UDFs. Hash functions are md5-prefix-based (``conv(substr(md5(x),1,15),
16,10)``) specifically so DuckDB oracle SQL can reproduce them bit-for-bit
(`('0x'||substr(md5(x),1,15))::BIGINT`).
"""
