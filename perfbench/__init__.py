"""The repository benchmark: seeded ship, search and admit workloads run
against the engine's public functions (see README.md)."""
