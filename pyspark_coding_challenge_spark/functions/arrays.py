"""Array / higher-order column functions (SURVEY §2.8).

All stay inside Tungsten whole-stage codegen — no Python UDFs. The reference's
pad/truncate uses a non-existent ``array_concat`` builtin
(``pyspark-coding-challenge/src/pipeline.py:196,199``, SURVEY §4.4-1); the
working builtin is ``concat``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def pad_truncate(col: Column, k: int, pad: Column | int = 0) -> Column:
    """Fix an array column to exactly ``k`` elements: truncate the tail,
    right-pad with ``pad``.

    Reference parity: ``pyspark-coding-challenge/src/pipeline.py:194-200``
    (with the ``array_concat`` -> ``concat`` fix).
    """
    pad_col = pad if isinstance(pad, Column) else F.lit(pad)
    return F.slice(F.concat(col, F.array_repeat(pad_col, k)), 1, k)


def sorted_parallel_arrays(
    structs_col: Column,
    fields: tuple[str, ...],
    presorted: bool = False,
) -> list[Column]:
    """From an array of structs whose FIRST field is the sort rank, produce
    one array per requested field, in rank order.

    ``sort_array`` compares structs field-by-ordinal, so the rank must be the
    first struct field — same trick as the reference
    (``pyspark-coding-challenge/src/pipeline.py:175-186``). For an array of
    non-null structs it orders exactly as ``array_sort`` does, through a
    generated comparator rather than an interpreted lambda one.

    ``presorted=True`` skips the sort for inputs that are already in rank
    order by construction (the per-row history window collects them in
    order — re-sorting K=1000 structs per output row would be a pure-waste
    O(K log K) pass Catalyst does not eliminate)."""
    ordered = structs_col if presorted else F.sort_array(structs_col)

    def _getter(name):
        # Unary lambda required: pyspark dispatches on lambda arity and would
        # pass the array index into a second (defaulted) parameter.
        return lambda x: x[name]

    return [F.transform(ordered, _getter(f)) for f in fields]
