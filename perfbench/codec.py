"""The user codec the bulk workload registers: a 2-D point stored as TEXT
``"x:y"`` and decoded to ``array<double>``. Module-level functions, so
Python workers import them by name."""

from __future__ import annotations


def point_decode(s):
    return None if s is None else [float(v) for v in s.split(":")]


def point_encode(p):
    return None if p is None else f"{float(p[0])!r}:{float(p[1])!r}"
