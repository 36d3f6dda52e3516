"""Job-level configuration for the syslog pipeline.

The reference library (/root/reference/src/lib.rs:105-123) resolves missing
years through a caller-supplied callback and defaults the timezone to the
system-local zone (`Local::now()`, lib.rs:122).  Both are non-deterministic in
a distributed job, so here they are *pinned job parameters*: a reference
(year, month) pair drives the canonical year policy and the default timezone
is an explicit fixed offset in seconds (UTC unless configured otherwise).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import lru_cache
from typing import Callable, Optional

# Variant selection, mirroring /root/reference/src/lib.rs:25-33.
VARIANT_EITHER = "either"
VARIANT_RFC3164 = "rfc3164"
VARIANT_RFC5424 = "rfc5424"

#: The canonical year resolver used throughout tests and fixtures.  Mirrors
#: the reference's own test policy (/root/reference/tests/tests.rs:8-10):
#: a December date seen in January belongs to the previous year.
REF_YEAR = 2020
REF_MONTH = 1


def default_year_policy(month: int) -> int:
    """Resolve the year for a 3164 timestamp that carries none.

    Canonical pinned policy (reference tests.rs:8-10): ``2019 if month == 12
    else 2020`` — i.e. when the pinned "now" is January, December messages are
    from the previous year (README.md:74-81 of the reference).
    """
    if REF_MONTH == 1 and month == 12:
        return REF_YEAR - 1
    return REF_YEAR


def year_resolver(policy) -> "Callable[[int, int, int, int, int], int]":
    """Normalize a year policy to the reference's full callback signature.

    The reference's resolver receives the whole IncompleteDate
    ``(month, day, hour, minute, second)`` (lib.rs:105-110,
    timestamp.rs:25); older 1-arg policies (month only) are still
    accepted and wrapped.  Memoized per policy callable so the per-row
    slow path never pays inspect.signature reflection.
    """
    try:
        return _year_resolver_cached(policy)
    except TypeError:          # unhashable callable: resolve uncached
        return _year_resolver(policy)


def _year_resolver(policy):
    import inspect

    try:
        n = len(inspect.signature(policy).parameters)
    except (TypeError, ValueError):
        n = 1
    if n >= 5:
        return policy
    return lambda mon, d, h, mi, s: policy(mon)


@lru_cache(maxsize=128)
def _year_resolver_cached(policy):
    return _year_resolver(policy)


@dataclass(frozen=True)
class ParseConfig:
    """Deterministic parse-time parameters.

    ``tz_offset_seconds``: the default fixed-offset timezone applied to 3164
    timestamps that carry no zone.  ``None`` mirrors the reference's
    ``tz=None`` (system-local) path but is *pinned to UTC* for determinism —
    semantically identical to ``0`` except for the RFC3164 with-year branch
    quirk replicated in oracle.py / parse.py.

    ``tz_name``: an IANA zone name (e.g. ``"America/New_York"``) mirroring
    the reference's ``Option<Tz>`` chrono-tz path (timestamp.rs:95-118):
    DST-aware resolution with ``earliest()`` semantics — ambiguous local
    times take the pre-transition offset; nonexistent (DST-gap) times fail
    the timestamp parse and the row falls back.  Takes precedence over
    ``tz_offset_seconds``.  ``year_policy`` may take the month alone or the
    reference's full (month, day, hour, minute, second) tuple.
    """

    variant: str = VARIANT_EITHER
    tz_offset_seconds: Optional[int] = None  # None == "Local", pinned to UTC
    tz_name: Optional[str] = None            # IANA zone (DST-aware)
    year_policy: Callable[..., int] = field(default=default_year_policy)

    @property
    def effective_offset(self) -> int:
        return 0 if self.tz_offset_seconds is None else self.tz_offset_seconds

    @property
    def zone(self):
        """ZoneInfo for tz_name (None in fixed-offset/UTC mode).  Resolved
        lazily by name so ParseConfig pickles cheaply to executors."""
        if self.tz_name is None:
            return None
        from zoneinfo import ZoneInfo

        return ZoneInfo(self.tz_name)


@dataclass(frozen=True)
class PipelineConfig:
    """Scale/shuffle knobs for the parse → enrich → route → aggregate job."""

    parse: ParseConfig = field(default_factory=ParseConfig)
    #: default bucket count for route_write_bucketed
    shuffle_partitions: int = 32
