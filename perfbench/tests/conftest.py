import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
# the benchmark's modules import each other by name, as run.py does, and
# import the package from the repository root
for p in (BENCH, os.path.dirname(BENCH)):
    if p not in sys.path:
        sys.path.insert(0, p)
