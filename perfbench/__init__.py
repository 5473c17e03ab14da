"""The repository's benchmark: three user workloads driven through the
engine's public functions (see README.md)."""
