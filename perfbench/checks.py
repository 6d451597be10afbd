"""Output checks.  Each returns the number of records that failed it, which
the benchmark adds to ``failed`` (the numerator of the failed ratio)."""

from __future__ import annotations

from collections.abc import Callable, Collection, Mapping


def check_produce(
    generated: Collection[int],
    delivered: Collection[int],
    samples: Mapping[int, str],
    expected: Callable[[int], str],
) -> int:
    """Every generated record delivered at least once, and every sampled
    payload byte-equal to the expected v1 JSON."""
    missing = len(set(generated) - set(delivered))
    wrong = sum(1 for seq, data in samples.items() if data != expected(seq))
    return missing + wrong


def check_consume(
    generated: Collection[tuple[str, int]],
    corrupt: Collection[tuple[str, int]],
    good: Collection[tuple[str, int]],
    quarantined: Collection[tuple[str, int]],
) -> int:
    """good + quarantined covers every generated record exactly once, and the
    quarantined ids are exactly the injected corrupt ids."""
    good, quarantined, corrupt = set(good), set(quarantined), set(corrupt)
    missing = len(set(generated) - good - quarantined)
    both = len(good & quarantined)
    misrouted = len(quarantined ^ corrupt)
    return missing + both + misrouted


def check_dedup(expected_survivors: Collection[int], survivors: Collection[int]) -> int:
    """The surviving ids are exactly the first occurrence of each text."""
    return len(set(expected_survivors) ^ set(survivors))
