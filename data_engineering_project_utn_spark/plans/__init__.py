"""Query registry — every implemented operator exposed as a named query.

Import side effect: importing this package registers all query plans.
The family modules are imported in a fixed order, which is the order
``all_queries()`` returns: relational, then the event plane (shared
plumbing, historical ``ri_*``, live ``rl_*``), then the LLM families
(shared oracle fragments, text, dedup, similarity, multimodal,
curation, classify).
"""

from data_engineering_project_utn_spark.plans.registry import (  # noqa: F401
    Query,
    all_queries,
    get_query,
    register,
)
from data_engineering_project_utn_spark.plans import relational  # noqa: F401
from data_engineering_project_utn_spark.plans import events_shared  # noqa: F401
from data_engineering_project_utn_spark.plans import events_historical_plans  # noqa: F401
from data_engineering_project_utn_spark.plans import events_live_plans  # noqa: F401
from data_engineering_project_utn_spark.plans import llm_shared  # noqa: F401
from data_engineering_project_utn_spark.plans import llm_text_plans  # noqa: F401
from data_engineering_project_utn_spark.plans import llm_dedup_plans  # noqa: F401
from data_engineering_project_utn_spark.plans import llm_similarity_plans  # noqa: F401
from data_engineering_project_utn_spark.plans import llm_multimodal_plans  # noqa: F401
from data_engineering_project_utn_spark.plans import llm_curation_plans  # noqa: F401
from data_engineering_project_utn_spark.plans import llm_classify_plans  # noqa: F401
