"""frogocr_spark — a PySpark-native main-content extraction engine.

A from-scratch re-expression of the capabilities of norsk-helsearkiv/FrogOCR
(reference at /root/reference, C++23 OCR pipeline) as an idiomatic Spark
DataFrame pipeline over multi-turn agent transcripts:

- ``core/``       pure-Python extraction semantics (the oracle; zero Spark imports)
- ``operators/``  Spark operators (extraction mapInArrow, dedup, similarity,
                  joins, windows, skew handling, resume anti-join)
- ``sources/``    table IO (parquet catalog, transcript generator)
- ``functions/``  scalar column-expression helpers (JVM-side, codegen'd)
- ``plans/``      end-to-end pipeline assembly + metrics/lineage sidecar
- ``streaming/``  Structured Streaming variant of the pipeline

Design notes (SURVEY.md §4, §7): zero custom Catalyst rules; the custom
pieces are (a) conv_id-salted repartition + secondary sort where the scan's
splits do not bound the tasks or a resume run's new rows need packing, (b) snapshot/manifest bookkeeping for resumability, (c) the
extraction core itself, executed as Arrow-batched ``mapInArrow`` — never
per-row Python UDFs.
"""

__version__ = "0.1.0"
