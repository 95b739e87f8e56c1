"""Locations inside the checkout. The benchmark reads and writes nothing
outside the checkout root: run artifacts go under ``.perfbench_work``."""

from __future__ import annotations

import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA_DIR = os.path.join(ROOT, "perfbench", "data", "sf0.01")
WORK = os.path.join(ROOT, ".perfbench_work")
