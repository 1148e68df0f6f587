"""Query plans: each module registers named queries + DuckDB oracles."""

from .registry import ORACLES, QUERIES, query

# Importing the modules populates the registry.
from . import analytics  # noqa: E402,F401
from . import analytics_ext  # noqa: E402,F401
from . import graph_queries  # noqa: E402,F401
from . import indicator_queries  # noqa: E402,F401
from . import llmdata  # noqa: E402,F401
from . import scale_queries  # noqa: E402,F401
from . import streaming_queries  # noqa: E402,F401

__all__ = ["QUERIES", "ORACLES", "query"]
