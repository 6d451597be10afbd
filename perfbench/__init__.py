"""Stream-engine benchmark: workloads, generator, probes and checks."""
