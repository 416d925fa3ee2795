"""Repository benchmark: paced and replayed telemetry through the
reference topology, catalog reads and lakehouse commits. Entry point:
``python3 perfbench/run.py``; see README.md beside this file."""
