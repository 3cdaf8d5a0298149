from .reshape import forward_fill, unpivot_months, pivot_groups  # noqa: F401
from .cleaning import (  # noqa: F401
    drop_blank_rows,
    clean_text,
    recode,
    GROUP_MAPPING,
    VARIABLE_MAPPING,
)
from .upsert import dedup_against  # noqa: F401
