"""Reusable large-scale operators that the workload queries and the
build call: lineage cuts, near-duplicate and substring deduplication,
multimodal column processing with its media codecs, profiling,
sampling, skew-safe aggregation, bucketed layouts, as-of and interval
joins, Bloom pruning and graph iteration.

Callers import the submodule they need; importing this package loads
none of them."""
