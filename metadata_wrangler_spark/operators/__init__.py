"""Engine library operators — the algorithms Catalyst doesn't provide.

closure      bounded weighted transitive closure over an edge table
merge        policy-guarded metadata upsert (Metadata.apply semantics)
queue        coverage-record work-queue state machine
pagination   keyset pagination (scale-safe offset replacement)
dedup        exact / n-gram-Jaccard / MinHash-LSH / SimHash dedup
similarity   embedding cosine top-k (brute force + LSH-bucketed)
textstats    language-ID, quality scoring, token counts, fingerprints
arrow_stage  the one JVM→Python boundary: every Arrow-batched pandas stage
"""
