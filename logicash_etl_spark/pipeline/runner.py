"""Driver-side pipeline runner — the Step Function replacement.

The reference orchestrates DeleteTrigger -> Crawler -> poll -> ETL ->
warehouse SQL -> poll via AWS Step Functions (infrastructure/
main.tf:341-511). In-engine, every stage is a synchronous Python call
in one SparkSession, so the runner is named steps, run in order, each
timed, failing fast, with a manifest of results instead of
``job.commit()`` (L4).

Steps hand each other in-memory results (the silver frame gold and
validate consume), so a failed run is recovered by running it again,
not by resuming it: every engine write overwrites (L5), so a rerun is
safe.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from collections.abc import Callable
from typing import Any


@dataclass
class Step:
    name: str
    fn: Callable[[dict[str, Any]], Any]
    """fn(context) -> result; result is stored in context[name]."""


@dataclass
class Pipeline:
    steps: list[Step]
    context: dict[str, Any] = field(default_factory=dict, init=False)

    def run(self) -> dict[str, Any]:
        """Run all steps in order; returns the context including a
        ``__manifest__`` of per-step wall-clock + status. A failing
        step is marked ``failed`` and re-raised; later steps do not
        run (fail-fast, like the SFN Fail state)."""
        manifest: list[dict[str, Any]] = []
        self.context["__manifest__"] = manifest
        for step in self.steps:
            t0 = time.perf_counter()
            status = "failed"
            try:
                self.context[step.name] = step.fn(self.context)
                status = "ok"
            finally:
                manifest.append(
                    {"step": step.name, "status": status, "sec": round(time.perf_counter() - t0, 3)}
                )
        return self.context
