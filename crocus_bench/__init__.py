"""crocus_spark benchmark: workloads, tracing and the steadiness tool."""
