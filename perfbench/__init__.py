"""The repository's benchmark: workloads, tracing and checks that drive
the engine through its public functions. Entry point: ``run.py``."""
