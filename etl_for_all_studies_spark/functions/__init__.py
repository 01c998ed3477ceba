from .stats import (
    average_rank,
    erf_expr,
    normal_cdf_expr,
    round6,
)

__all__ = [
    "average_rank",
    "erf_expr",
    "normal_cdf_expr",
    "round6",
]
