import os
import sys

# the benchmark's modules live one directory up and are imported by name,
# as perfbench/run.py imports them
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
