"""The committed driver-sampling order is what its generator derives from
the committed CORRECTNESS records and the registry."""

from __future__ import annotations

import runpy
from pathlib import Path

from lakehouse_variance_spark.sampling_order import SAMPLING_PRIORITY

ROOT = Path(__file__).resolve().parents[1]


def test_committed_sampling_priority_is_the_generators_output():
    # In-process: the generator orders ties by name, so the modules this
    # process has already imported do not change its output.
    gen = runpy.run_path(str(ROOT / "scripts" / "gen_sampling_order.py"))
    assert list(SAMPLING_PRIORITY) == gen["priority_order"](), (
        "sampling_order.py is stale: run scripts/gen_sampling_order.py"
    )
