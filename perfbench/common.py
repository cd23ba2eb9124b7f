"""State shared by the workloads of one benchmark run."""

from __future__ import annotations

import json
import math
import os
import statistics
import sys
from dataclasses import dataclass, field


@dataclass
class Run:
    workload: str
    seed: int
    seconds: float
    trace: bool
    #: working directory inside the checkout, removed when the run ends
    work: str
    #: directory inside the checkout that keeps what later runs compare with
    state: str
    spark: object = None
    attempted: int = 0
    failed: int = 0
    #: per-layer readings taken outside the traced passes (set-up parts)
    layer: dict = field(default_factory=dict)

    def expect(self, what: str, got, want) -> None:
        """One output check: counted as attempted, and as failed when
        ``got`` differs from ``want``."""
        self.attempted += 1
        if got != want:
            self.failed += 1
            print(f"check failed: {what}: got {_short(got)}, want {_short(want)}",
                  file=sys.stderr)

    def remember(self, name: str, value):
        """The value stored under ``name`` by the first run of this
        workload and seed in this checkout; stores ``value`` if none is."""
        path = os.path.join(self.state, f"{self.workload}-{self.seed}-{name}.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        os.makedirs(self.state, exist_ok=True)
        with open(path, "w") as f:
            json.dump(value, f)
        return value


def _short(v) -> str:
    text = repr(v)
    return text if len(text) < 300 else text[:300] + "..."


def median(values) -> float:
    """The median, or 0 when every measured step failed."""
    values = list(values)
    return statistics.median(values) if values else 0.0


def geomean(values: list[float]) -> float:
    if not values:
        return 0.0
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tree_bytes(root: str) -> int:
    """Bytes of the data files under ``root``, leaving out the
    ``_SUCCESS`` markers and hidden checksum files."""
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(root)
        for f in files
        if not f.startswith((".", "_"))
    )
