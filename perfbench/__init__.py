"""Link-graph benchmark (see README.md); entry point ``perfbench/run.py``."""
