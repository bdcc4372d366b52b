import os
import sys

# The benchmark's modules are plain files next to run.py, not a package.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
