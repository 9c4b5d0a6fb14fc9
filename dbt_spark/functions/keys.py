"""Two non-negative 32-bit values packed into one long key.

One long hashes, shuffles and compares cheaper than the pair of columns it
replaces: the suffix-array adjacency and lifting tables key ``(doc, pos)``
this way, and triangle counting keys ``(degree, node)`` and its closing
``(node, node)`` join this way.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: exclusive upper bound of each half; an input outside [0, HALF) corrupts
#: the key, so every caller range-checks its inputs against it first
HALF = 1 << 32


def pack(hi: Column, lo: Column) -> Column:
    """``hi`` in the upper 32 bits of a long, ``lo`` in the lower ones;
    ``unpack`` inverts it, and for ``hi < 2^31`` the long orders as
    ``(hi, lo)``. The shift runs on a long: shiftleft keeps an int's type
    and masks the count to 5 bits, so an int ``hi`` would pack to
    ``hi | lo`` and keys would collide."""
    return F.shiftleft(hi.cast("long"), 32).bitwiseOR(lo.cast("long"))


def unpack(key: Column) -> tuple[Column, Column]:
    """The ``(hi, lo)`` longs of a ``pack``ed key."""
    return F.shiftrightunsigned(key, 32), key.bitwiseAND(F.lit(HALF - 1))
