"""Product-path benchmark harness; entry point ``perfbench/run.py``."""
