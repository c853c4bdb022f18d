"""KG-pipeline benchmark (see README.md)."""
