from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Entry:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None → driver does rows-only check


REGISTRY: dict[str, Entry] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = Entry(name, fn, oracle)
        return fn

    return deco
