"""Event-plane plan families, split for staleness granularity (see
plans/llm.py): the historical (ri_*) and live (rl_*) families fingerprint
independently; shared plumbing (events_as_flat, oracle CTE chain, the
memoized output_table) lives in ``plans.events_shared``.

Kept as the import point ``plans/__init__`` uses.
"""

from data_engineering_project_utn_spark.plans import events_shared  # noqa: F401
from data_engineering_project_utn_spark.plans import events_historical_plans  # noqa: F401
from data_engineering_project_utn_spark.plans import events_live_plans  # noqa: F401
from data_engineering_project_utn_spark.plans.events_shared import (  # noqa: F401
    events_as_flat,
)
