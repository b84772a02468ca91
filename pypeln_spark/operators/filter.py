"""filter — keep elements where the predicate holds
(reference: pypeln/process/api/filter.py:18-126). Index and payload pass
through untouched.

Column fast path → Catalyst ``Filter`` (pushes down to the scan when the
stage is a file source). General path → one harness apply that
boolean-masks each batch, so the original (possibly pickled) values are
re-emitted unchanged; ``harness.lower`` runs it in the same
``mapInPandas`` as the input's Python chain.
"""

from __future__ import annotations

import typing as tp

from .. import harness
from ..stage import Stage, to_stage
from ..utils import UNDEFINED, VALUE_COL, curry_stage
from . import _common


@curry_stage
def filter(  # noqa: A001
    f: tp.Callable,
    stage: tp.Any = UNDEFINED,
    workers: int = 1,
    maxsize: int = 0,  # noqa: ARG001 - parity knob
    timeout: float = 0,
    on_start: tp.Optional[tp.Callable] = None,
    on_done: tp.Optional[tp.Callable] = None,
    mode: str = "process",
) -> Stage:
    stage = to_stage(stage)

    if _common.is_column(f):
        return Stage(
            stage.df.filter(f), scalar=stage.scalar, pickled=stage.pickled, in_order=stage.in_order
        )

    fn = harness.make_apply(
        f,
        kind="filter",
        mode=mode,
        workers=workers,
        timeout=timeout,
        on_start=on_start,
        on_done=on_done,
        in_pickled=stage.pickled,
        out_pickled=stage.pickled,
        has_index=stage.has_index,
    )
    schema = harness.output_schema(stage.df.schema[VALUE_COL].dataType, stage.has_index)
    return harness.lower(stage, fn, schema, stage.pickled)
