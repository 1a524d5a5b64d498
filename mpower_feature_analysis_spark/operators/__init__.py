from .dedup import dedup_last_wins, dedup_exact
from .fill import forward_fill, backward_fill
from .windows import (
    turn_gaps,
    per_role_running_counts,
    rolling_stats,
    zero_base_ts,
    enrollment_window_filter,
)
from .sessionize import sessionize, session_summary
from .asof import asof_join, burst_membership_counts, burst_schedule, interval_join
from .aggregate import group_median_iqr, user_aggregate, pivot_wide, ordered_categorical_max
from .kernels import (
    windowed_summary_features,
    windowed_summary_features_skew_split,
    WINDOW_FEATURE_SCHEMA,
)
from .signal import (
    freq_domain_features,
    loess_detrend,
    freq_domain_features_skew_split,
    signal_summary_features,
    signal_summary_features_skew_split,
    validate_shuffle_key,
    FREQ_FEATURE_SCHEMA,
    SIGNAL_FEATURE_SCHEMA,
)
from .topk import top_k_per_group

__all__ = [
    "dedup_last_wins", "dedup_exact",
    "forward_fill", "backward_fill",
    "turn_gaps", "per_role_running_counts", "rolling_stats", "zero_base_ts",
    "enrollment_window_filter",
    "sessionize", "session_summary",
    "asof_join", "interval_join", "burst_schedule", "burst_membership_counts",
    "group_median_iqr", "user_aggregate", "pivot_wide", "ordered_categorical_max",
    "windowed_summary_features",
    "windowed_summary_features_skew_split", "WINDOW_FEATURE_SCHEMA",
    "signal_summary_features", "freq_domain_features", "loess_detrend",
    "signal_summary_features_skew_split", "freq_domain_features_skew_split",
    "validate_shuffle_key",
    "SIGNAL_FEATURE_SCHEMA", "FREQ_FEATURE_SCHEMA",
    "top_k_per_group",
]
