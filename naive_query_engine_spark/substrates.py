"""Session substrates: relations built once per Spark session and corpus
and read by every query that needs them, as a deployment reads its
maintained tables and indexes.

An entry is keyed ``(qualified function name, applicationId, sf_dir,
*params)`` with defaults applied.  Reuse changes no results: a substrate
is a pure function of its key.  :func:`clear` drops entries and
unpersists their frames.
"""

from __future__ import annotations

import functools
import inspect

from pyspark.sql import DataFrame

#: every live substrate entry; looked up by name on each call, so a
#: benchmark probe may swap in a counting dict
_SUBSTRATE_CACHE: dict[tuple, object] = {}


def _name(fn) -> str:
    return f"{fn.__module__}.{fn.__qualname__}"


def substrate(build):
    """Cache ``build(spark, sf_dir, *params)`` per session substrate key."""
    sig = inspect.signature(build)
    name = _name(build)

    @functools.wraps(build)
    def cached(*args, **kwargs):
        bound = sig.bind(*args, **kwargs)
        bound.apply_defaults()
        spark, sf_dir, *params = bound.arguments.values()
        key = (name, spark.sparkContext.applicationId, sf_dir, *params)
        cache = _SUBSTRATE_CACHE
        if key not in cache:
            cache[key] = build(*args, **kwargs)
        return cache[key]

    return cached


def clear(*fns) -> None:
    """Drop the entries of the given substrates, or of all when none are
    given, unpersisting every DataFrame an entry held."""
    names = {_name(fn) for fn in fns}
    cache = _SUBSTRATE_CACHE
    for key in [k for k in cache if not names or k[0] in names]:
        value = cache.pop(key)
        for df in value if isinstance(value, tuple) else (value,):
            if isinstance(df, DataFrame):
                df.unpersist()
