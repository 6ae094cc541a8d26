"""Durable-extraction and curation benchmark (see ``perfbench/run.py``)."""
