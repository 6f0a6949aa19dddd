"""What one measured phase of a workload returns."""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    correct: bool = True
    errors: list[str] = field(default_factory=list)
    op_ms: list[float] = field(default_factory=list)  # per operation
    wall: float = 0.0  # seconds of the measured phase
    # Process-tree CPU seconds of a fixed amount of work in the measured
    # phase: the first ``cpu_ops`` operations, the same on every run.
    cpu_s: float = 0.0
    cpu_ops: int = 0
    # End-to-end figures by name -> (value, unit); per-layer figures
    # by name -> value (units in layers.py).
    detail: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    notes: dict = field(default_factory=dict)  # non-numeric, e.g. digests

    def fail(self, message: str) -> None:
        """An operation failed (an error answer, not a wrong one)."""
        self.failed += 1
        self._note(message)

    def mismatch(self, message: str) -> None:
        """An output differs from its expected value."""
        self.correct = False
        self._note(message)

    def _note(self, message: str) -> None:
        if len(self.errors) < 20:
            self.errors.append(message)
