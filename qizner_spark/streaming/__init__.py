"""Structured-streaming variant of the KG build (``stream_kg_increments``)."""
