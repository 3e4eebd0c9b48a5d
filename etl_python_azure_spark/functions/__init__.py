"""Scalar Column-expression helpers (SURVEY §2.7).

Every row-wise ``apply`` in the reference becomes a vectorized,
codegen-friendly Column expression here — never a Python UDF.
"""

from .cleaning import (  # noqa: F401
    bounded_string_gate,
    drop_all_null_columns,
)
from .dates import (  # noqa: F401
    iso_date_part,
    parse_timestamp_naive,
    sliding_window_bounds,
)
from .keys import surrogate_key  # noqa: F401
