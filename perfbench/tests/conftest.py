import sys
from pathlib import Path

# the benchmark's modules import each other by bare name (run.py puts
# perfbench/ on sys.path); do the same for the tests
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
