"""Runtime: checkpoint/resume, lineage metrics, skew salting, supersteps."""
