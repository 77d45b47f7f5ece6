from .validation import (
    SchemaError,
    validate_columns,
    validate_streams,
    validate_songs,
    validate_users,
)
from .enrich import enrich_streams
from .aggregates import daily_genre_kpis, plays_per_item
from .topk import top_k_per_group
from .reshape import unpivot_kpis
from . import (  # noqa: F401
    asof,
    dedup,
    funnel,
    multimodal,
    rangejoin,
    sampling,
    serving,
    sessions,
    similarity,
    skew,
    text,
)
