"""Query registry consumed by ``__spark_entry__.py``.

Every implemented operator from SURVEY §2 (plus the LLM-pipeline
extensions) registers here as a named ``(spark, sf_dir) -> DataFrame``
callable with a matching DuckDB oracle SQL string. Column names are
aliased identically on both sides — the driver's compare sorts columns
by name before value-hashing.
"""

from __future__ import annotations

from .registry import REGISTRY, query

# Import for side effect: each module registers its queries.
from . import mr_parity  # noqa: E402,F401
from . import tpch  # noqa: E402,F401
from . import kv  # noqa: E402,F401
from . import events  # noqa: E402,F401
from . import dedup  # noqa: E402,F401
from . import joins  # noqa: E402,F401
from . import similarity  # noqa: E402,F401
from . import text_metrics  # noqa: E402,F401
from . import multimodal  # noqa: E402,F401
from . import pipeline  # noqa: E402,F401
from . import decontam  # noqa: E402,F401
from . import training  # noqa: E402,F401
from . import scrub  # noqa: E402,F401
from . import sketches  # noqa: E402,F401
from . import profiling  # noqa: E402,F401
from . import graph  # noqa: E402,F401
from . import bpe  # noqa: E402,F401
from . import curation  # noqa: E402,F401

__all__ = ["REGISTRY", "query"]
