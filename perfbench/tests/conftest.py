import sys
from pathlib import Path

# the program and the benchmark package import from the checkout root
sys.path.insert(0, str(Path(__file__).resolve().parents[2]))
