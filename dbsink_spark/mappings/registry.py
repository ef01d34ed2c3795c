"""Mapping registry: lookup name → mapping class.

The reference resolves mappings through the ``dbsink.maps`` setuptools
entry-point group (reference setup.cfg:46-56, dbsink/listen.py:17-20).
Here the builtin registry is a dict, and third-party mappings can
still register via the ``dbsink_spark.maps`` entry-point group.
"""

from __future__ import annotations

from .base import Mapping
from .generic import (
    GenericFieldStatistic,
    GenericFloat,
    GenericGeography,
    JsonMap,
    StringMap,
)
from .vendors import (
    AreteData,
    NumurusData,
    NumurusStatus,
    NwicFloatReports,
    NwicFloatReportsSofar,
)

BUILTIN: dict[str, type[Mapping]] = {
    cls.lookup: cls
    for cls in (
        JsonMap,
        StringMap,
        GenericGeography,
        GenericFloat,
        AreteData,
        NumurusData,
        NumurusStatus,
        NwicFloatReports,
        NwicFloatReportsSofar,
        GenericFieldStatistic,
    )
}


def get_mappings() -> dict[str, type[Mapping]]:
    mappings = dict(BUILTIN)
    try:  # third-party entry points, same contract as the reference
        from importlib.metadata import entry_points

        for ep in entry_points(group="dbsink_spark.maps"):
            mappings[ep.name] = ep.load()
    except Exception:
        pass
    return mappings


def resolve(lookup: str, topic: str, **kwargs) -> Mapping:
    mappings = get_mappings()
    if lookup not in mappings:
        raise KeyError(
            f"unknown mapping {lookup!r}; available: {sorted(mappings)}"
        )
    return mappings[lookup](topic, **kwargs)
