"""End-to-end and per-layer benchmark of the engine's query keys (see README.md)."""
