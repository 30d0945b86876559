"""Scale-regime switches shared by the query/operator layers.

The r15 window folds (``count()/min()/max() OVER (PARTITION BY term |
shingle | w1 | fp)`` replacing a groupBy + equi-join-back) measured faster
at bench scale — every removed exchange-stage is ~0.3-0.6 s of fixed
overhead locally — and are byte-neutral at cluster scale (both forms move
the corpus-width table across the wire exactly once: the window's partition
exchange vs the join's probe-side exchange; the agg shuffle the fold
removes carries map-side-collapsed vocabulary-width partials, not corpus
bytes). What is NOT neutral at scale is SKEW (ADVICE r15 #1): a window
partition cannot be split — every row of a Zipf-hot key (a stopword-grade
term/shingle, a boilerplate span fingerprint) lands in ONE task and sorts
there, while the join form's probe side is exactly what AQE's skew-join
mitigation splits, and its aggregate side collapses hot keys map-side
before the shuffle.

:func:`hot_key_agg_mode` makes that regime split explicit instead of
hardcoding either form: the window fold below the size threshold (where a
single task trivially absorbs the hottest key and the saved stages are the
measured win), the agg+join form above it (where an unbounded hot-key
partition is a straggler risk no config can mitigate). Both forms compute
identical values — the switch never changes results, only the physical
plan — and both are pinned equal by tests/test_text_ops.py.

The threshold is a constant, 1 GiB of scanned input bytes: every testdata
SF scans well under it, so bench plans are the measured window form, while
any corpus where hot-key skew could bite (≫ the threshold on one machine's
worth of input) plans the skew-splittable join form.
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame

HOT_KEY_JOIN_BYTES = 1 << 30  # 1 GiB of scanned input


def _input_bytes(df: DataFrame) -> int:
    """Total size of the frame's scan files, from driver-side metadata
    only (``inputFiles()`` lists without running a job). Non-file-backed
    frames (createDataFrame fixtures, post-shuffle frames) report 0 —
    the local regime, matching their in-memory scale."""
    total = 0
    try:
        files = df.inputFiles()
    except Exception:
        return 0
    for uri in files:
        path = urlparse(uri).path or uri
        try:
            total += os.path.getsize(path)
        except OSError:
            # Non-local or vanished file: size unknown. Treat unknown
            # storage as the at-scale regime — the skew-safe form is the
            # conservative default when the input cannot be inspected.
            return HOT_KEY_JOIN_BYTES
    return total


def hot_key_agg_mode(df: DataFrame) -> str:
    """``'window'`` or ``'join'`` — how a per-key corpus statistic
    (document frequency, first occurrence, distinct-doc spread) should be
    attached to the rows of an UNBOUNDED-frequency key column. See the
    module docstring for the regime analysis.
    """
    return "window" if _input_bytes(df) < HOT_KEY_JOIN_BYTES else "join"
