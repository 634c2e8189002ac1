"""End-to-end benchmark of the o2g_spark engine; entry point ``run.py``."""
