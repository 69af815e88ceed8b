"""End-to-end and per-layer benchmark of the engine; entry point run.py."""
