"""CDC engine benchmark: workloads, judge, tracing (see README.md)."""
