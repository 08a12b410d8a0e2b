"""Table IO + deterministic synthetic sources.

- ``payloadgen``  pure-Python deterministic transcript-payload generator
                  (seed-stable, hash-driven — no RNG state, no wall clock)
- ``transcripts`` Spark DataFrame builders for the transcripts table
- ``catalog``     parquet table IO behind one interface
"""
