"""Spark operators — each module maps to SURVEY.md §2 inventory rows.

- ``extraction``  the fused per-turn extraction operator (X1/X2/F8/C5/W1)
- ``skew``        the run's plan: map-only over the scan's splits, or a
                  conv_id-salted repartition + secondary sort (SURVEY §4)
- ``resume``      processed-keys anti-join (F1) + run bookkeeping (S2/T6)
- ``windows``     reading-order / positional-ID / top-k windows (W1-W7)
- ``joins``       range, as-of, nearest-neighbor joins (J1/J6/J7)
- ``dedup``       exact, minhash-LSH, simhash, n-gram jaccard dedup
- ``similarity``  embedding cosine top-k (brute force + LSH-bucketed)
- ``textstats``   language-ID, quality score, token count, fingerprint
- ``multimodal``  binary-payload decode/feature plumbing (decode stubbed)
"""
