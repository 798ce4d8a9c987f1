"""Session factory rules that need no running session."""

import pytest

from bdtopo2refhydro_spark.session import resolve_shuffle_partitions


@pytest.mark.parametrize("cores, explicit, want", [
    (4, None, 4),        # one partition per core
    ("8", None, 8),      # env-style string core count
    ("*", None, 32),     # local[*]: no core count to follow
    (4, 16, 16),         # an explicit count wins ...
    ("8", 16, 16),
    ("*", 16, 16),       # ... also under local[*]
])
def test_resolve_shuffle_partitions(cores, explicit, want):
    assert resolve_shuffle_partitions(cores, explicit) == want
