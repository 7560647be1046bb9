"""Array expansions written once as Spark SQL expression builders."""

from __future__ import annotations


def pair_expand(arr: str, a: str, b: str) -> str:
    """SQL for every ordered pair of `arr` elements, earlier element
    first, as array<struct<a, b>>. Over a sorted set this yields each
    unordered pair once with a < b: the in-set expansion that replaces
    a self-join on the set's key."""
    return (
        f"flatten(transform({arr}, (x, i) -> "
        f"transform(slice({arr}, i + 2, size({arr})), "
        f"y -> struct(x AS {a}, y AS {b}))))"
    )
