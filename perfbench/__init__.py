"""Engine benchmark: seeded workloads, correctness checks, traced layers."""
