"""Join operators (SURVEY.md §2.5 J1–J7, §2.4 F4–F6).

All reference joins are equi-joins. The engine's added value over raw
``DataFrame.join`` is (a) dplyr natural-join key inference with explicit
suffix disambiguation, (b) semi/anti joins replacing the reference's
collect-a-vector ``%in%`` idiom (P9/F4/F5) so membership tests stay
distributed, (c) broadcast-strategy awareness for small dimensions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["natural_join", "semi_join", "anti_join", "full_join"]


def natural_join(left: DataFrame, right: DataFrame, how: str = "left") -> DataFrame:
    """dplyr-style natural join: keys = every shared column name (J2).

    dplyr prints "Joining by …" and joins on all columns the frames share
    (``T:20``, ``T:145``, ``TM:19`` …); Spark has no natural join, so the
    engine computes the key list and passes it explicitly. Because *all*
    shared names are keys, the join output never has colliding columns —
    dplyr's ``.x``/``.y`` suffixing only arises for explicit-key joins
    (see :func:`join_by` callers, J3/J4, which use plain ``DataFrame.join``).
    """
    on = [c for c in left.columns if c in set(right.columns)]
    if not on:
        raise ValueError("natural_join: no shared columns")
    return left.join(right, on=on, how=how)


def semi_join(left: DataFrame, right: DataFrame, key: str | list[str]) -> DataFrame:
    """Distributed ``x %in% pull(y, key)`` (F4: ``T:98``, ``TW:61`` …)."""
    keys = [key] if isinstance(key, str) else list(key)
    return left.join(right.select(*keys).distinct(), on=keys, how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, key: str | list[str]) -> DataFrame:
    """Distributed ``!x %in% …`` (F5: ``TM:47``, ``TM:76``)."""
    keys = [key] if isinstance(key, str) else list(key)
    return left.join(right.select(*keys).distinct(), on=keys, how="left_anti")


def full_join(left: DataFrame, right: DataFrame, key: str | list[str]) -> DataFrame:
    """Full outer join (J5: ``I:157``, ``TW:43-44``, ``TM:65-66``)."""
    keys = [key] if isinstance(key, str) else list(key)
    return left.join(right, on=keys, how="full_outer")
