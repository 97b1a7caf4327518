"""PySpark-native Steam-prices analytics engine."""

import os

# The checkout holding this package. Scratch landings (re-landed fixtures,
# bucketed tables, sink outputs) go under it; `.gitignore` lists `.scratch/`.
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRATCH_DIR = os.path.join(REPO_ROOT, ".scratch")
