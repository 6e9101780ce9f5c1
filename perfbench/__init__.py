"""Layered benchmark of the validation engine; entry point ``perfbench/run.py``."""
