"""What every workload module shares: the run context and one operation."""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from tracer import Tracer


@dataclass
class Context:
    spark: object
    seed: int
    work: str  # scratch directory inside the checkout, removed after the run
    tracer: Tracer
    prepared: object = None  # what the module's prepare() returned, if it has one


@dataclass
class Op:
    """One closed-loop request.  ``fn`` runs it against the library (the
    timed part); ``check`` then tells whether its output is right."""

    kind: str  # the request shape, e.g. "where" or "graph_kcore"
    cls: str  # the op class the latency is reported under
    fn: Callable[[], object]
    check: Callable[[object], bool] = bool  # by default fn checks itself
