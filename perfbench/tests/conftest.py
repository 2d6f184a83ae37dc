import os
import sys

# the benchmark's modules sit one directory up and import each other by
# name; the repository root above them holds the package and its tests
_here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [_here, os.path.dirname(_here)]
