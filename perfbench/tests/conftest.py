"""Make the benchmark's modules and the package under test importable.

Run from the root of a checkout: python3 -m pytest perfbench/tests -q
"""

import os
import sys

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH_DIR)
sys.path.insert(0, os.path.dirname(BENCH_DIR))
