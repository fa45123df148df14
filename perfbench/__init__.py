"""Serving and ingest benchmark for the themis engine (see README.md)."""
