"""The repository's benchmark: seeded workloads, oracle checks and spans."""
