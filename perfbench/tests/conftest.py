"""Make the benchmark's modules importable as top-level modules, the way
``perfbench/run.py`` imports them.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
