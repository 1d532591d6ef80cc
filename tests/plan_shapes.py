"""Run a test body on both kernel fan-out plans of a SearchEngine.

`SearchEngine` sizes a query's kernel task count from the postings its
scan matches (`POSTINGS_PER_TASK`). Small test fixtures therefore fan in
to ONE kernel task with no exchange, and the exchange path would lose
coverage. `plan_shapes` runs the body once per shape:

- "fan_in": the class default (one task on small fixtures);
- "fan_out": POSTINGS_PER_TASK = 1, so every scan fans out to
  defaultParallelism tasks and grouped queries take the (segment, chunk)
  repartition.
"""

from __future__ import annotations

SHAPES = (("fan_in", None), ("fan_out", 1))


def plan_shapes(*engines):
    """Yield each shape's name with POSTINGS_PER_TASK set on `engines`;
    the class default is restored afterwards."""
    try:
        for shape, per_task in SHAPES:
            for eng in engines:
                eng.__dict__.pop("POSTINGS_PER_TASK", None)
                if per_task is not None:
                    eng.POSTINGS_PER_TASK = per_task
            yield shape
    finally:
        for eng in engines:
            eng.__dict__.pop("POSTINGS_PER_TASK", None)
