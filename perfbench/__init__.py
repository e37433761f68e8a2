"""Layered benchmark of the CDC engine; see perfbench/run.py."""
