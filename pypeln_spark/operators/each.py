"""each — side-effect sink, emits nothing
(reference: pypeln/process/api/each.py:18-141).

Lowering: a harness apply with ``kind="each"`` (f runs, zero rows out),
handed to ``harness.lower`` like map's, so on_start/on_done, DI and timeout
behave exactly like map's and the apply shares the input chain's
``mapInPandas``; with
``run=True`` the empty result is drained immediately through Spark's noop
sink — the analogue of the reference's eager self-iteration
(each.py:137-141). The open/process/close contract of Spark's ForeachWriter
is the same shape as on_start/f/on_done (SURVEY.md §3.3).
"""

from __future__ import annotations

import typing as tp

from .. import harness
from ..stage import Stage, to_stage
from ..utils import UNDEFINED, curry_stage


@curry_stage
def each(
    f: tp.Callable,
    stage: tp.Any = UNDEFINED,
    workers: int = 1,
    maxsize: int = 0,  # noqa: ARG001 - parity knob
    timeout: float = 0,
    on_start: tp.Optional[tp.Callable] = None,
    on_done: tp.Optional[tp.Callable] = None,
    run: bool = False,
    mode: str = "process",
) -> tp.Optional[Stage]:
    stage = to_stage(stage)

    fn = harness.make_apply(
        f,
        kind="each",
        mode=mode,
        workers=workers,
        timeout=timeout,
        on_start=on_start,
        on_done=on_done,
        in_pickled=stage.pickled,
        out_pickled=False,
        has_index=stage.has_index,
    )
    out = harness.lower(stage, fn, harness.output_schema(None, stage.has_index), True)
    if run:
        from .run import run as _run

        _run(out)
        return None
    return out
