"""Seeded, single-client closed-loop benchmark of the engine's public
functions; ``python3 perfbench/run.py --help`` runs it."""
