"""Seeded end-to-end benchmark for the search engine (see README.md)."""
