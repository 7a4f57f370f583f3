"""The JVM→Python boundary, as one primitive.

Every Arrow-batched pandas stage in the engine — similarity scorers,
dedup folds, multimodal decoders, source fetchers — is built by
``arrow_stage``; no other module calls ``DataFrame.mapInPandas`` or
``GroupedData.applyInPandas``. (The stateful streaming sessionizer's
``applyInPandasWithState`` is a different API and stays where it
is.) The primitive owns what every stage used to hand-roll:

* the batch loop and the skipping of empty batches — a per-batch
  kernel is ``fn(pdf) -> frame | dict of columns | None``;
* an optional JVM-side ``not_null`` filter, so NULL values never
  cross the Arrow boundary;
* a whole-partition ``fold`` mode (``fn(batches) -> iterator of
  frames``, batches already non-empty) for kernels that fold a task
  into bounded partials or hold one client per partition;
* a keyed mode (``by=`` → ``groupBy(by).applyInPandas``,
  ``fn(group_pdf) -> frame | dict | None``);
* the stage's name: it becomes the kernel's ``__name__``, which the
  physical plan prints (``MapInPandas <name>(cols…)#id``), and it
  is recorded in ``STAGES``.

``STAGES`` is the Python-stage allowlist: ``python_plan_violations``
flags any Python node of a physical plan that this module did not
build, and both the plan-shape test and ``tools/plan_audit.py`` use it.
"""

from __future__ import annotations

import re
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Names of every stage built in this process.
STAGES: set[str] = set()


def arrow_stage(
    df: DataFrame,
    name: str,
    schema,
    fn: Callable,
    *,
    not_null: str | None = None,
    fold: bool = False,
    by: str | None = None,
) -> DataFrame:
    """Run ``fn`` over ``df`` as the Arrow stage ``name`` with output
    ``schema`` (DDL string or StructType).

    Default mode calls ``fn`` once per non-empty Arrow batch;
    ``by`` groups on that column and calls ``fn`` once per group. In
    both, ``fn`` returns a frame or a dict of columns, and ``None``
    emits nothing. ``fold=True`` hands ``fn`` the task's (non-empty)
    batch iterator and yields what it yields. ``not_null`` drops rows
    whose column is NULL before the stage.
    """
    if not name.isidentifier():
        raise ValueError(f"arrow_stage name must be an identifier: {name!r}")
    if not_null is not None:
        df = df.where(F.col(not_null).isNotNull())
    if by is not None:
        def kernel(pdf):
            return pd.DataFrame(fn(pdf))
    elif fold:
        def kernel(batches):
            yield from fn(b for b in batches if len(b))
    else:
        def kernel(batches):
            for pdf in batches:
                if len(pdf):
                    out = fn(pdf)
                    if out is not None:
                        yield pd.DataFrame(out)
    kernel.__name__ = name
    STAGES.add(name)
    if by is not None:
        return df.groupBy(by).applyInPandas(kernel, schema)
    return df.mapInPandas(kernel, schema)


# A physical-plan tree line: indentation/branch glyphs, then the node.
_NODE = re.compile(r"^[\s:+*\-()0-9]*([A-Za-z]+)(.*)$")
# Python execution nodes (BatchEvalPython, ArrowEvalPython,
# MapInPandas, FlatMapGroupsInPandas, MapInArrow, ...).
_PY_NODE = re.compile(r"Python|InPandas|InArrow")
# The nodes the primitive builds; their first argument after the
# optional grouping list is ``<function name>(<inputs>)#id``.
_STAGE_NODES = {"MapInPandas", "FlatMapGroupsInPandas"}
_FUNC = re.compile(r"^\s*(?:\[[^\]]*\],\s*)?([^\s(]+)\(")


def python_plan_violations(plan: str) -> list[str]:
    """Python nodes of ``plan`` (an ``executedPlan().toString()``
    tree) that ``arrow_stage`` did not build: any row-at-a-time or
    pandas UDF eval, any other Python node type, and any
    MapInPandas/FlatMapGroupsInPandas whose function name is not in
    ``STAGES``. Each hit reads ``"<node> <function>"``."""
    hits = []
    for line in plan.splitlines():
        m = _NODE.match(line)
        if not m or not _PY_NODE.search(m.group(1)):
            continue
        node, rest = m.groups()
        f = _FUNC.match(rest) if node in _STAGE_NODES else None
        if f is None or f.group(1) not in STAGES:
            hits.append(f"{node} {f.group(1) if f else ''}".strip())
    return hits
