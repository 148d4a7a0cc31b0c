from query_cost_feature_engineering_spark.operators.asof import (  # noqa: F401
    asof_join_pandas_merge,
    asof_join_union_window,
)
from query_cost_feature_engineering_spark.operators.windows import (  # noqa: F401
    with_backfill,
    with_lag_lead,
    with_rolling_mean,
    with_session_ids,
)
from query_cost_feature_engineering_spark.operators.snapshot import (  # noqa: F401
    annotate_group_fit,
    fit_linear_by_group,
    normalize_by_group,
)
from query_cost_feature_engineering_spark.operators.split import (  # noqa: F401
    hash_split,
    time_cutoff_split,
)
