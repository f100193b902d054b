"""Aggregated operator registry — the single source for the driver contract.

``queries()`` / ``oracle_sql()`` here are re-exported by the repo-root
``__spark_entry__.py``. Every SURVEY.md §2 inventory row lands in exactly one
operator module below. Keys iterate in registration order: ``_MODULES``
order, then decorator order within each module.
"""

from __future__ import annotations

from .functions import scalar
from .operators import (
    aggregates,
    analytics,
    behavioral,
    curation,
    etl,
    graph,
    joins,
    mining,
    pipeline,
    projections,
    sampling,
    setops,
    similarity,
    sorts,
    text,
    udfs,
    windows,
)
from .registry_util import merge
from .sources import connectors
from .streaming import streams

_MODULES = [
    connectors,
    aggregates,
    projections,
    joins,
    windows,
    sorts,
    setops,
    scalar,
    text,
    similarity,
    streams,
    udfs,
    pipeline,
    analytics,
    sampling,
    etl,
    behavioral,
    graph,
    curation,
    mining,
]


def queries():
    return merge(_MODULES)[0]


def oracle_sql():
    return merge(_MODULES)[1]
