"""Seeded benchmark of the feature store; see README.md."""
