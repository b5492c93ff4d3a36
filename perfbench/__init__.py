"""Closed-loop benchmark of the gate registry, timed from outside the package.

``python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1``
from the repository root. See ``perfbench/NOTES.md``.
"""
