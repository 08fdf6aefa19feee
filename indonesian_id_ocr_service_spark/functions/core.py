"""Expression-construction utilities.

``let`` gives Column expressions real let-bindings by routing the bound
value through a single-element ``transform`` lambda: the binding
sub-tree appears exactly once in the plan and is evaluated exactly once
per row, no matter how many times the body references it.

Without this, deep normalizer chains (the date let-tree N14-N24 in
dates.py) blow up exponentially — every reference to a sub-expression re-inlines its whole
subtree, and analysis/codegen time explodes long before runtime matters.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["let", "let2"]


def let(binding: Column, body: Callable[[Column], Column]) -> Column:
    """Bind ``binding`` to a lambda variable and evaluate ``body`` once."""
    return F.get(F.transform(F.array(binding), body), 0)


def let2(b1: Column, b2: Column,
         body: Callable[[Column, Column], Column]) -> Column:
    """Two-variable let via a struct binding."""
    return let(
        F.struct(b1.alias("_1"), b2.alias("_2")),
        lambda t: body(t["_1"], t["_2"]),
    )
