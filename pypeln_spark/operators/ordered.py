"""ordered — emit elements sorted by their hierarchical creation index
(reference: pypeln/process/api/ordered.py:12-20).

The reference buffers EVERYTHING in one worker's memory and warns about OOM
(ordered.py:65-66). Spark's sort is a distributed range-partitioned sort with
disk spill — strictly stronger: no OOM cliff, scales to any input. Arrays of
bigint compare lexicographically in Catalyst, which is exactly the
reference's ``Element.index`` total order (docs/advanced.md:120).

The sort is skipped when the input Stage is ``in_order``: its rows, read
partition by partition, already come in ascending ``_index`` order. That
holds straight after the bounded ``from_iterable`` (partitions are
consecutive slices of the list), after ``ordered`` itself, and through any
chain of element-wise operators on such a Stage, because none of them
reorders rows inside a partition: every harness mode emits results in
input order (plain loop, ``ThreadPoolExecutor.map``, ``asyncio.gather``),
filters keep survivors in place, and ``flat_map`` children ``[i, j]``
follow their parent ``[i]`` right where it stood. Anything else —
``concat``, ``with_index``, a ``Stage(df)`` source, a DataFrame
passthrough such as ``repartition`` — is not ``in_order`` and is sorted.
Skipping the sort also saves its second evaluation of the input: Spark
runs a range-partitioned sort's input once to sample bounds and once to
shuffle.

Streaming caveat: a global sort is only defined per-microbatch — use
``foreachBatch`` for that (SURVEY.md §7.3).
"""

from __future__ import annotations

import typing as tp

from pyspark.sql import functions as F

from ..stage import Stage, to_stage
from ..utils import INDEX_COL, UNDEFINED, curry_stage


@curry_stage
def ordered(stage: tp.Any = UNDEFINED, maxsize: int = 0) -> Stage:  # noqa: ARG001
    stage = to_stage(stage)
    if not stage.has_index:
        raise ValueError(
            "ordered() needs the hierarchical _index column; sources from "
            "from_iterable carry it automatically, table stages can declare "
            "one with Stage.with_index(*key_cols)"
        )
    if stage.in_order:
        return stage
    return Stage(
        stage.df.orderBy(F.col(INDEX_COL).asc()),
        scalar=stage.scalar,
        pickled=stage.pickled,
        in_order=True,
    )
