"""Checkpoint-manifest stage store (resume semantics)."""
