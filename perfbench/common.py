"""Types shared by the runner and the workloads."""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from typing import Any


@dataclass
class Op:
    """One client request: ``build`` makes the plan, ``materialize`` runs it."""

    kind: str
    arg: str
    build: Callable[[], Any]
    materialize: Callable[[Any], Any]


@dataclass
class Context:
    spark: Any
    tracer: Any
    root: str
    work: str
    seed: int
    sf: float
