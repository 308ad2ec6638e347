"""Scalar UDF registry — the reference's ``functions`` option.

Reference: hyparam/squirreling accepts
``functions: {NAME: {apply: (…args) => val | Promise<val>, arguments: {min,max}}}``
(src/types.d.ts:135-138, lookup src/expression/evaluate.js:687-694) — sync or
async scalar UDFs callable anywhere an expression goes; the README's flagship
example is an LLM call per row (README.md:79-94).

Spark-first mapping:
- sync Python callables → a ``pandas_udf`` (Arrow batches): with
  ``vectorized=True`` ``apply`` takes and returns pandas Series,
  otherwise it is called once per row inside the batch.
- **async** callables (LLM/API calls) → a pandas_udf that drives an asyncio
  event loop per Arrow batch with bounded concurrency: the Spark analogue of
  the reference's event-loop Promise batching. Each executor batch issues up
  to ``max_concurrency`` requests in flight — across a 1000-executor cluster
  that parallelism multiplies, so per-key rate limits belong in the callable.

Laziness discipline (reference lazy cells, src/types.d.ts:62-70): Spark has
no cell-level laziness, so expensive UDF columns must be attached AFTER
filters/limits. Marking the UDF non-deterministic stops Catalyst from
pushing it through filters or collapsing it into earlier projects — that is
``expensive=True`` below. ``tests/test_udf_registry.py`` counts
evaluations the way the reference's expensive.test.js does; that count is
a strict xfail until cells are lazy (ROADMAP item 6).
"""

from __future__ import annotations

import asyncio
import inspect
from dataclasses import dataclass, replace
from typing import Any, Callable

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StringType


class UdfArityError(TypeError):
    """Wrong number of arguments for a registered UDF (reference validates
    ``arguments: {min,max}`` at parse time, src/validation/functions.js:
    262-294)."""

    def __init__(self, name: str, got: int, lo: int, hi: int | None):
        expected = (
            str(lo)
            if lo == hi
            else f"{lo}..{hi}" if hi is not None else f">= {lo}"
        )
        super().__init__(
            f"function {name!r} expects {expected} argument(s), got {got}"
        )
        self.name, self.got, self.min_args, self.max_args = name, got, lo, hi


@dataclass
class FunctionSpec:
    """A scalar UDF: sync or async ``apply``, Spark return type, and
    whether it is expensive (→ fenced from Catalyst reordering).
    ``min_args``/``max_args`` bound the accepted arity (reference
    ``arguments: {min,max}``); when omitted they are inferred from
    ``apply``'s signature. ``max_args=None`` with ``min_args`` set means
    unbounded varargs."""

    apply: Callable[..., Any]
    return_type: DataType | str = StringType()
    expensive: bool = False
    max_concurrency: int = 64
    vectorized: bool = False  # apply takes/returns pandas Series
    min_args: int | None = None
    max_args: int | None = None


def _infer_arity(fn: Callable) -> tuple[int, int | None]:
    lo = hi = 0
    for p in inspect.signature(fn).parameters.values():
        if p.kind in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD):
            hi += 1
            if p.default is p.empty:
                lo += 1
        elif p.kind == p.VAR_POSITIONAL:
            return lo, None
    return lo, hi


def _resolved_arity(spec: FunctionSpec) -> tuple[int, int | None]:
    if spec.min_args is not None or spec.max_args is not None:
        return spec.min_args or 0, spec.max_args
    return _infer_arity(spec.apply)




def _async_batched(fn: Callable, max_concurrency: int):
    """Wrap an async scalar fn into a batch evaluator running one asyncio
    loop per Arrow batch with a concurrency bound."""

    async def run_batch(values_cols):
        sem = asyncio.Semaphore(max_concurrency)

        async def one(args):
            async with sem:
                return await fn(*args)

        return await asyncio.gather(*(one(args) for args in zip(*values_cols)))

    def batch_eval(*cols: pd.Series) -> pd.Series:
        values = [c.tolist() for c in cols]
        out = asyncio.run(run_batch(values))
        return pd.Series(out)

    return batch_eval


def make_udf(spec: FunctionSpec, name: str = "<udf>"):
    """Compile a FunctionSpec to a Spark column function with arity
    enforcement (reference validates ``arguments: {min,max}`` at parse
    time; Spark binds Python UDFs late, so the check runs as an evaluator
    prologue): wrong-arity calls raise a structured ``UdfArityError``
    naming the function and the accepted range — eagerly for DataFrame-API
    calls, from the worker for SQL calls."""
    lo, hi = _resolved_arity(spec)
    if inspect.iscoroutinefunction(spec.apply):
        inner = _async_batched(spec.apply, spec.max_concurrency)
    elif spec.vectorized:
        inner = spec.apply
    else:
        fn = spec.apply
        inner = lambda *cols: pd.Series(  # noqa: E731
            [fn(*args) for args in zip(*(c.tolist() for c in cols))]
        )

    def _arity_ok(n: int) -> bool:
        return n >= lo and (hi is None or n <= hi)

    def evaluator(*cols):
        if not _arity_ok(len(cols)):
            raise UdfArityError(name, len(cols), lo, hi)
        return inner(*cols)

    udf = F.pandas_udf(evaluator, returnType=spec.return_type)
    if spec.expensive:
        udf = udf.asNondeterministic()

    def checked(*cols):
        # DataFrame-API calls get the clear error eagerly, not from an
        # executor traceback.
        if not _arity_ok(len(cols)):
            raise UdfArityError(name, len(cols), lo, hi)
        return udf(*cols)

    checked.__wrapped_udf__ = udf
    return checked


# The session attribute holding its compiled UDFs: {name: (spec, JVM
# function)}.
_COMPILED = "_squirreling_udfs"


def register_functions(
    spark: SparkSession, functions: dict[str, FunctionSpec | Callable]
) -> None:
    """Register UDFs for SQL use (reference evaluate.js:687-694 lookup).
    Each session compiles a name's spec once (``make_udf``, then the
    pickled JVM function ``spark.udf.register`` builds) and keeps it
    until the name comes with a spec that is not equal. Every call
    registers the kept JVM function under its name again, so the call's
    map wins over a function registered under that name in between."""
    compiled = getattr(spark, _COMPILED, None)
    if compiled is None:
        compiled = {}
        setattr(spark, _COMPILED, compiled)
    for name, spec in functions.items():
        if not isinstance(spec, FunctionSpec):
            spec = FunctionSpec(apply=spec)
        hit = compiled.get(name)
        if hit is not None and hit[0] == spec:
            spark._jsparkSession.udf().registerPython(name, hit[1])
            continue
        udf = make_udf(spec, name=name).__wrapped_udf__
        # a copy: a spec changed in place afterwards is not equal to it
        compiled[name] = (replace(spec), spark.udf.register(name, udf)._judf)


def register_udtf(spark: SparkSession, name: str, cls, return_type: str) -> None:
    """Register a user-defined TABLE function (rows out per input row) —
    beyond the reference, whose table functions are hard-coded
    (UNNEST/EXPLODE/JSON_EACH only, src/execute/execute.js:153-242).

    ``cls`` is a plain class with an ``eval(self, *args)`` generator method
    yielding output tuples; usable in SQL FROM clauses and LATERAL joins.
    """
    from pyspark.sql.functions import udtf

    spark.udtf.register(name, udtf(cls, returnType=return_type))
