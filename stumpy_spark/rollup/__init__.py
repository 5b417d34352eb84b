from .tiers import (  # noqa: F401
    rollup_tier, cascade, TIER_SECONDS,
)
from .gapfill import gapfill  # noqa: F401
from .sessions import sessionize, streaming_sessionize  # noqa: F401
from .quantiles import bucket_quantiles  # noqa: F401
