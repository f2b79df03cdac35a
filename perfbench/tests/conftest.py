import os
import sys

# the benchmark's modules import each other by name, and the engine's
# packages from the checkout's root, as run.py does
HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [HERE, os.path.dirname(HERE)]
