"""Numerical-contract constants.

These mirror the reference's precision/behavior knobs, which are part of the
output contract (reference: /root/reference/stumpy/config.py:13-22).  The
values are replicated verbatim because the reference's tests (and ours)
assert results that depend on them.
"""

# Denominator clamp used when sigma is (near-)zero in the Pearson formula
# (reference config.py:13, core.py:1160-1166).
DENOM_THRESHOLD = 1e-14

# Std-dev below this is treated as 1.0 during z-normalization
# (reference config.py:14, core.py:359-383).
STDDEV_THRESHOLD = 1e-7

# Squared distances below this snap to zero before sqrt
# (reference config.py:15, stump.py:488-497).
P_NORM_THRESHOLD = 1e-14

# Decimal places for oracle comparisons (reference config.py:16).
TEST_PRECISION = 5

# Exclusion-zone denominator: excl_zone = ceil(m / EXCL_ZONE_DENOM)
# (reference config.py:19, core.py:2047-2075).
EXCL_ZONE_DENOM = 4

# Engine-side knobs (not from the reference).
DEFAULT_SHUFFLE_PARTITIONS = 32
