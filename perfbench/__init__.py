"""End-to-end benchmark of the extraction engine (see README.md)."""
