"""Deterministic transcript corpus generators and the transcript adapters
over driver test data."""
