"""etl_suite_spark — a PySpark-native analytics/ETL engine.

Capabilities modeled on ``andre-aion/ETL-suite`` (see SURVEY.md §0: the
reference checkout is empty, so SURVEY §2 is the binding operator
inventory), re-expressed Spark-first: declarative DataFrame plans, Catalyst
optimization, exact-decimal determinism for oracle parity, and 100 TB-scale
partitioning/broadcast discipline throughout.

Importing this package populates the operator registry; the driver contract
lives in ``__spark_entry__.py`` at the repo root.
"""

from __future__ import annotations

from . import registry  # noqa: F401

# Import every operator module for registration side effects.
#
# NOTE: the driver-facing query ORDER is not this import order — the
# active window in __spark_entry__ (R15_WINDOW) explicitly pins the first
# 50 queries the driver's correctness harness checks, and
# tests/test_entry_contract.py pins that list, so module imports here can
# be reordered freely without silently shifting driver evidence.
from .operators import sorts  # noqa: F401
from .operators import setops  # noqa: F401
from .operators import joins  # noqa: F401
from .operators import windows  # noqa: F401
from .operators import aggregates  # noqa: F401
from .sources import scans  # noqa: F401
from .operators import filters  # noqa: F401
from .operators import (  # noqa: F401
    analytics,
    graph,
    quality,
    scale,
    tpch,
)
from .functions import scalars  # noqa: F401
from .llm import (  # noqa: F401
    clustering,
    corpus,
    dedup,
    multimodal,
    scoring,
    similarity,
    textstats,
    traindata,
)
from .plans import incremental, pipeline, scheduler  # noqa: F401
from .streaming import ops as streaming_ops  # noqa: F401
from .udf import surface  # noqa: F401

__all__ = ["registry"]
