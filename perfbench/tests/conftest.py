import os
import sys

# the checkout root, so `perfbench`, `tools` and the engine import
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))
