"""cerberus_spark benchmark (see README.md)."""
