"""Structured Streaming variant of the extraction pipeline: every epoch
is committed, with its lineage sidecar, by the batch pipeline's commit
step (``plans.pipeline.commit_run``)."""
