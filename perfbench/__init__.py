"""Fan-out benchmark for the engine; see ``perfbench/README.md``."""
