"""Layered benchmark for the extraction engine; entry point ``run.py``."""
