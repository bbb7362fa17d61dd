"""End-to-end and per-layer benchmark of the frontier engine and the near-dup operators."""
