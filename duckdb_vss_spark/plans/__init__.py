from duckdb_vss_spark.plans.rewrite import (  # noqa: F401
    VssPlanner,
    canonicalize_cosine,
    match_lateral,
    rewrite_operators,
)
from duckdb_vss_spark.plans.catalyst import (  # noqa: F401
    install_sql_extension,
    match_topk_plan,
    uninstall_sql_extension,
)
