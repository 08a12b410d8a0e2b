"""Resumability: processed-keys anti-join (F1) + exactly-once bookkeeping.

FrogOCR resumes by checking output existence per task before processing
(reference ``Source/TaskProcessor.cpp:191-209``) and consumes the queue
destructively (``Source/Application.cpp:62-64,518-521`` — at-most-once).
The Spark-native design is strictly stronger (SURVEY §2.8 T6):

1. never delete input — the transcripts table is immutable;
2. skip-done via LEFT ANTI JOIN of the input against the committed output
   keys ``(conv_id, turn_idx)``;
3. idempotent run_id-scoped appends (catalog.Table.append) make a retried
   run_id safe → exactly-once end to end.

The anti-join is the engine's only cross-table join (SURVEY §2.3 note); at
scale the committed-key side is typically much smaller than the input in a
resume scenario and Spark's AQE picks broadcast vs shuffle automatically.

NULL keys (VERDICT r4 #4 three-valued-logic audit): anti-join equality is
null-unsafe — a NULL-keyed INPUT row matches nothing and would be
re-selected on every resume (duplicate appends: the exactly-once story
leans on the keys), while a NULL-keyed committed row is merely inert.
The transcripts schema declares both keys non-nullable
(sources/transcripts.TRANSCRIPT_SCHEMA) and the catalog's appends write
them through unchanged, so the invariant is enforced at the source; any
future nullable-key source must pre-filter or surrogate NULL keys before
entering the resume loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

KEYS = ("conv_id", "turn_idx")


def filter_unprocessed(input_df: DataFrame,
                       processed: DataFrame | None) -> DataFrame:
    """F1: keep only input rows whose keys are not yet committed.

    The committed keys are not de-duplicated: a duplicate key cannot
    change a left anti join's result, and a dropDuplicates would add an
    aggregate and a shuffle.  When both sides are conv_id-bucketed tables
    with the same bucket count (the committed keys a
    ``sources.catalog.BucketedTable`` the extraction tasks wrote) the
    join reads matching buckets pairwise with ZERO Exchange
    (plan-asserted in tests/test_bucketed.py)."""
    if processed is None:
        return input_df
    return input_df.join(processed.select(*KEYS), on=list(KEYS),
                         how="left_anti")
