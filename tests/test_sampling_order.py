"""The committed driver-sampling order is what its generator derives from
the committed CORRECTNESS records and the registry."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

from lakehouse_variance_spark.sampling_order import SAMPLING_PRIORITY

ROOT = Path(__file__).resolve().parents[1]


def test_committed_sampling_priority_is_the_generators_output():
    # A fresh interpreter, as the script runs: the registry's order is
    # its import order, which earlier tests in this process have changed.
    code = (
        "import json, runpy; "
        "gen = runpy.run_path('scripts/gen_sampling_order.py'); "
        "print(json.dumps(gen['priority_order']()))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True,
        text=True, check=True,
    )
    assert list(SAMPLING_PRIORITY) == json.loads(out.stdout.splitlines()[-1]), (
        "sampling_order.py is stale: run scripts/gen_sampling_order.py"
    )
