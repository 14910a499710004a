import sys
from pathlib import Path

# The benchmark's modules are top-level scripts in perfbench/.
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
