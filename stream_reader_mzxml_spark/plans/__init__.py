"""Query plans: reference analytics programs + the driver-contract battery.

Every ``plans/*_queries.py`` module registers its queries with
:func:`register` into the one ``QUERIES``/``ORACLES`` pair below;
``entry_queries`` imports them all and fixes the driver order.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco
