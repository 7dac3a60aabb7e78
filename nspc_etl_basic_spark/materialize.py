"""One owner for cached frames.

Ownership rule: no engine code calls ``.cache()`` or ``.persist()``
itself. A frame is cached with :func:`hold`, and the innermost
:func:`scope` open at that moment owns it: when the scope exits,
normally or by exception, it unpersists every frame held inside it. A
nested scope releases only its own frames. Outside any scope ``hold``
is a plain ``.cache()``, so a function that returns a lazy plan over a
held frame leaves its release to the caller's scope.

The open scope lives in a ``ContextVar``: each thread starts outside
any scope, so a ``foreachBatch`` callback's scope owns exactly that
micro-batch's frames.

An explicit ``df.unpersist()`` inside a scope is still allowed as an
early release (unpersist is idempotent). ``localCheckpoint`` is not
managed here: its blocks go with the checkpointed RDD.
"""

from __future__ import annotations

import contextlib
import contextvars
from collections.abc import Iterator

from pyspark.sql import DataFrame

_held: contextvars.ContextVar[list[DataFrame] | None] = contextvars.ContextVar(
    "nspc_materialize_scope", default=None
)


@contextlib.contextmanager
def scope() -> Iterator[None]:
    """Unpersist every frame ``hold`` caches inside this block on exit."""
    frames: list[DataFrame] = []
    token = _held.set(frames)
    try:
        yield
    finally:
        _held.reset(token)
        for df in reversed(frames):
            df.unpersist()


def hold(df: DataFrame) -> DataFrame:
    """``df.cache()``, released when the innermost open scope exits."""
    df = df.cache()
    frames = _held.get()
    if frames is not None:
        frames.append(df)
    return df
