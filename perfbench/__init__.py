"""Seeded end-to-end benchmark of the vector engine (see README.md)."""
