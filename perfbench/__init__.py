"""Engine benchmark: workloads, generators, tracing and the run command."""
