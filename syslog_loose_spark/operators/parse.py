"""Vectorized tolerant-syslog parse for Spark (Arrow-batched, no row UDFs).

The engine core: compiled *possessive* master regexes replicate the
committed-choice behavior of the reference's nom combinator grammar
(/root/reference/src/{rfc5424,rfc3164,timestamp,structured_data,parsers}.rs)
— possessive quantifiers (`++`, `*+`, `?+`) are the regex analogue of nom's
no-backtracking-within-an-alternative execution, which is what makes one
regex pass per protocol semantically equal to the combinator sequence.

Exposed as:
  * ``parse_tokenized(df, cfg)``   — arrow_udf over the tokenized input
    table (detokenize + parse in one Arrow pass; the job's only
    JVM→Python boundary)
  * ``parse_syslog_udf(cfg)``      — scalar arrow_udf: string -> struct

Semantics are verified row-for-row against the independent plain-Python
oracle (syslog_loose_spark.oracle) in tests/test_parse_vectorized.py,
including a Hypothesis round-trip property.
"""

from __future__ import annotations

import re
from datetime import datetime, timedelta, timezone
from typing import List, Optional, Tuple

import numpy as np
import pyarrow as pa

from ..config import (
    ParseConfig,
    VARIANT_EITHER,
    VARIANT_RFC3164,
    VARIANT_RFC5424,
    year_resolver,
)
from ..oracle import (
    MONTHS,
    REF_WS,
    ParseFail,
    parse_rfc3339,
    u_digits,
    zone_earliest,
    zone_offset_from_utc,
)

U32_MAX = 4294967295
I32_MIN, I32_MAX = -(2**31), 2**31 - 1
_UTC = timezone.utc

# --------------------------------------------------------------------------
# master regexes
# --------------------------------------------------------------------------

# One structured-data param: key (take_till1 ']'/'=' — may contain spaces,
# structured_data.rs:132-139), '=', optional spaces, quoted value with
# '\'-anychar escaping ('""' special-cased, structured_data.rs:117-129).
_PARAM = r'[^\]=]++=[ \t]*+(?:""|"(?:[^"\\]++|\\.)++")'

# Strict SD element (structured_data.rs:149-166): id then space0 then
# space-separated params.  The {params} inner group is reused for both the
# "must have params" (3164) and "params optional" (5424) variants.
_ELEM_STRICT_5424 = rf'\[(?:[^\s\]=]|[\x1c-\x1f])++[ \t]*+(?:{_PARAM}(?: {_PARAM})*+)?+\]'
_ELEM_STRICT_3164 = rf'\[(?:[^\s\]=]|[\x1c-\x1f])++[ \t]*+{_PARAM}(?: {_PARAM})*+\]'
# Permissive fallback (structured_data.rs:169-179): anything up to first ']'.
_ELEM_PERMISSIVE = r'\[[^\]]*+\]'

# Full RFC5424 line after the PRI (rfc5424.rs:21-72).  Field tokens are
# possessive \S++ (= take_while1 non-whitespace, parsers.rs:25-43);
# '-' timestamps must be followed by space1 or the alternative is committed
# and the parse fails (nom alt does not backtrack out of tag("-")).
# NB: digit atoms are ASCII [0-9] everywhere, never \d — Python \d is
# Unicode-aware while the reference's nom digit1 (parsers.rs:11-16) accepts
# ASCII only.  (re.ASCII is NOT an option: it would also narrow \s/\S,
# whereas Rust char::is_whitespace is Unicode-aware.)
_RX5424 = re.compile(
    r'\A(?P<ver>[0-9]++)'
    r'[ \t]++'
    r'(?P<ts>-(?=[ \t])|[^ ]++)'
    r'[ \t]++'
    r'(?P<host>(?:\S|[\x1c-\x1f])++)'
    r'[ \t]++'
    r'(?P<app>(?:\S|[\x1c-\x1f])++)'
    r'[ \t]++'
    r'(?P<proc>(?:\S|[\x1c-\x1f])++)'
    r'[ \t]++'
    r'(?P<msgid>(?:\S|[\x1c-\x1f])++)'
    r'[ \t]*+'
    rf'(?P<sd>-|(?:{_ELEM_STRICT_5424}|{_ELEM_PERMISSIVE})++)'
    r'[ \t]*+'
    r'(?P<msg>.*)\Z',
    re.S,
)

# RFC3164 timestamps (timestamp.rs:47-91): month = take(3) any 3 chars
# validated against the month table; digits possessive; optional trailing
# ':' after the seconds.
_RX_TS_NOYEAR = re.compile(
    r'\A(?P<mon>.{3})[ \t]++(?P<d>[0-9]++)[ \t]++'
    r'(?P<h>[0-9]++):(?P<mi>[0-9]++):(?P<s>[0-9]++):?'
)
_RX_TS_WITHYEAR = re.compile(
    r'\A(?P<mon>.{3})[ \t]++(?P<d>[0-9]++)[ \t]++(?P<y>[0-9]++)[ \t]++'
    r'(?P<h>[0-9]++):(?P<mi>[0-9]++):(?P<s>[0-9]++):?'
)

# RFC3164 header tail after the timestamp (rfc3164.rs:72-85):
#   opt(" " hostname) opt(" " tagname) space0 opt(":") space0 opt(SD) space0 rest
# f1 encodes the hostname trailing-colon split-back (parsers.rs:32-36): a
# ':' is part of the token only when followed by non-whitespace, so a
# trailing ':' is left in the input as the header/msg separator.
_RX3164_TAIL = re.compile(
    # NOTE: no \A — matched via .match(h, pos) which anchors at pos, while
    # \A would still refer to the absolute start of the string.
    r'(?: (?P<f1>(?:[^\s:]|[\x1c-\x1f]|:(?=(?:\S|[\x1c-\x1f])))++))?+'
    r'(?: (?P<f2>(?:[^\s:]|[\x1c-\x1f])++))?+'
    r'[ \t]*+'
    r'(?::)?+'
    r'[ \t]*+'
    rf'(?P<sd>-|(?:{_ELEM_STRICT_3164})++)?+'
    r'[ \t]*+'
    r'(?P<msg>.*)\Z',
    re.S,
)

# element/param sub-scanners used to decompose an already-matched SD region
# NB: re.S is load-bearing — the '\\.' escape atom must match an escaped
# NEWLINE (nom's escaped(..., anychar) accepts any char); without it these
# sub-scanners reject a region the re.S master regex already admitted and
# the element silently degrades to junk
_RX_ELEM = re.compile(
    rf'\[(?P<id>(?:[^\s\]=]|[\x1c-\x1f])++)[ \t]*+'
    rf'(?P<params>(?:{_PARAM}(?: {_PARAM})*+)?+)\]'
    rf'|(?P<junk>{_ELEM_PERMISSIVE})',
    re.S,
)
_RX_PARAM = re.compile(
    r'(?P<k>[^\]=]++)=[ \t]*+(?P<v>""|"(?:[^"\\]++|\\.)++")', re.S)

_RX_PRI = re.compile(r'\A<([0-9]++)>')
_RX_I32 = re.compile(r'[+-]?[0-9]+\Z')
_RX_SYSTAG = re.compile(r'((?:[^\s:\[]|[\x1c-\x1f])*+)\[([^\]]++)\]\Z')


def _sd_elements(sd: str) -> List[Tuple[str, List[Tuple[str, str]]]]:
    """Decompose a regex-validated SD region into (id, [(k, raw_v)]).
    Permissive (dropped) elements yield nothing."""
    if sd == "-" or not sd:
        return []
    out = []
    pos = 0
    n = len(sd)
    while pos < n:
        m = _RX_ELEM.match(sd, pos)
        if m is None:  # cannot happen for a region the master regex matched
            break
        pos = m.end()
        if m.group("id") is None:
            continue
        blob = m.group("params")
        params: List[Tuple[str, str]] = []
        p = 0
        while True:
            pm = _RX_PARAM.match(blob, p)
            if pm is None:
                break
            v = pm.group("v")
            params.append((pm.group("k"), "" if v == '""' else v[1:-1]))
            p = pm.end()
            if p < len(blob) and blob[p] == " ":
                p += 1
            else:
                break
        out.append((m.group("id"), params))
    return out


def _procid(tok: str) -> Tuple[Optional[int], Optional[str]]:
    """ProcId::from (procid.rs:28-35): i32 or Name; overflow -> Name.
    Checked conversion (u_digits): leading zeros fine, huge runs can't
    crash int()."""
    if _RX_I32.match(tok):
        sign = -1 if tok[0] == "-" else 1
        mag = u_digits(tok.lstrip("+-"), 2**31)
        if mag is not None:
            v = sign * mag
            if I32_MIN <= v <= I32_MAX:
                return v, None
    return None, tok


class _Fail(Exception):
    pass


def _parse_5424(h: str):
    """h = input after PRI removal.  Raises _Fail to fall through to 3164."""
    m = _RX5424.match(h)
    if m is None:
        raise _Fail
    ver = u_digits(m.group("ver"), U32_MAX)
    if ver is None:
        raise _Fail
    tok = m.group("ts")
    if tok == "-":
        ts = None
    else:
        try:
            ts = parse_rfc3339(tok)
        except ParseFail:
            raise _Fail
    host = m.group("host")
    # hostname disallows a trailing ':' (parsers.rs:46-54): the colon would
    # be split back and the following space1 in the sequence then fails.
    if host == ":" or host.endswith(":"):
        raise _Fail
    fields = []
    for g in ("app", "proc", "msgid"):
        tok = m.group(g)
        if tok == ":":
            raise _Fail
        fields.append(None if tok == "-" else tok)
    app, proc, msgid = fields
    host = None if host == "-" else host
    pid, pname = _procid(proc) if proc is not None else (None, None)
    sd = _sd_elements(m.group("sd"))
    return (ver, ts, host, app, pid, pname, msgid, sd, m.group("msg"))


_ABSENT = object()


def _resolve_host_tag(f1, f2):
    """rfc3164.rs:35-61 — see oracle._resolve_host_and_tag (independently
    re-derived here in regex form)."""
    def systag(tok):
        m = _RX_SYSTAG.match(tok)
        return (m.group(1), m.group(2)) if m else None

    if f1 is not _ABSENT and f2 is not _ABSENT and f2 is not None:
        st = systag(f2)
        return (f1, st[0], st[1]) if st else (f1, f2, None)
    if f1 is not _ABSENT and f1 is not None and f2 is _ABSENT:
        st = systag(f1)
        return (None, st[0], st[1]) if st else (f1, None, None)
    if f1 is _ABSENT and f2 is not _ABSENT and f2 is not None:
        st = systag(f2)
        return (None, st[0], st[1]) if st else (f2, None, None)
    return None, None, None


def _ts_3164(h: str, cfg: ParseConfig):
    """Ordered timestamp alternatives (timestamp.rs:131-161).
    Returns (ts_or_None, end_pos); raises _Fail when none parse."""
    zone = cfg.zone
    tzoff = cfg.effective_offset
    tz = timezone(timedelta(seconds=tzoff)) if tzoff else _UTC
    year_fn = year_resolver(cfg.year_policy)
    m = _RX_TS_NOYEAR.match(h)
    if m is not None:
        mon = MONTHS.get(m.group("mon").lower())
        parts = None
        if mon is not None:
            parts = [u_digits(m.group(g), U32_MAX)
                     for g in ("d", "h", "mi", "s")]
        if parts is not None and None not in parts:
            try:
                d, hh, mi, ss = parts
                local = datetime(year_fn(mon, d, hh, mi, ss),
                                 mon, d, hh, mi, ss)
                if zone is not None:
                    # DST-aware: earliest-on-ambiguity; a gap fails this
                    # alternative (and, syntactically, all the others)
                    resolved = zone_earliest(local, zone)
                    if resolved is not None:
                        return resolved, m.end()
                else:
                    return local.replace(tzinfo=tz), m.end()
            except ValueError:
                pass
    m = _RX_TS_WITHYEAR.match(h)
    if m is not None:
        mon = MONTHS.get(m.group("mon").lower())
        parts = None
        if mon is not None:
            parts = [u_digits(m.group(g), U32_MAX)
                     for g in ("y", "d", "h", "mi", "s")]
        if parts is not None and None not in parts:
            try:
                naive = datetime(parts[0], mon, parts[1],
                                 parts[2], parts[3], parts[4])
            except ValueError:
                naive = None
            if naive is not None:
                try:
                    if zone is not None:
                        # from_naive_utc_and_offset with the zone's offset
                        # at naive-as-UTC (timestamp.rs:141-146)
                        off = zone_offset_from_utc(naive, zone)
                        return naive.replace(tzinfo=_UTC).astimezone(
                            timezone(timedelta(seconds=off))), m.end()
                    if cfg.tz_offset_seconds is not None:
                        # with-year + explicit tz quirk (timestamp.rs:
                        # 141-146): naive attached to the offset as if UTC
                        return (naive.replace(tzinfo=_UTC).astimezone(tz),
                                m.end())
                    return naive.replace(tzinfo=tz), m.end()
                except (ParseFail, OverflowError):
                    # offset-shifted wall clock outside year 1..9999:
                    # overflow = parse failure (oracle.py branch 2 parity)
                    pass
    if h.startswith("-"):
        return None, 1
    idx = h.find(" ")
    if idx == -1:
        raise _Fail
    try:
        return parse_rfc3339(h[:idx]), idx
    except ParseFail:
        raise _Fail


def _parse_3164(h: str, cfg: ParseConfig):
    h = h.lstrip(" \t")  # opt(space0) between PRI and timestamp, rfc3164.rs:74
    ts, pos = _ts_3164(h, cfg)
    m = _RX3164_TAIL.match(h, pos)
    if m is None:  # the tail regex is total; defensive only
        raise _Fail
    f1 = m.group("f1")
    f2 = m.group("f2")
    # '-' is NILVALUE only as a bare token: when the hostname token was
    # '-:' the trailing ':' is split back (parsers.rs:46-54 checks
    # ends_with(':') BEFORE the '-' check) and the literal '-' is kept.
    if f1 is None:
        f1 = _ABSENT
    elif f1 == "-" and not h.startswith(":", m.end("f1")):
        f1 = None
    f2 = _ABSENT if f2 is None else (None if f2 == "-" else f2)
    host, app, pid_tok = _resolve_host_tag(f1, f2)
    pid, pname = _procid(pid_tok) if pid_tok is not None else (None, None)
    sd = _sd_elements(m.group("sd") or "")
    return (ts, host, app, pid, pname, sd, m.group("msg"))


# ---------------------------------------------------------------------------
# fast path: one combined possessive regex per protocol + memoized
# timestamp / structured-data sub-parses + integer epoch arithmetic.
# Any row that hits a rare semantic edge (PRI overflow, invalid month or
# calendar date, digit overflow) BAILS to the exact slow path above, so the
# fast path never has to replicate nom's cross-alternative fallthrough.
# ---------------------------------------------------------------------------

_EPOCH_ORD = 719163  # date(1970,1,1).toordinal()
_US = 1_000_000
# Python datetime wall-clock bounds as epoch µs (0001-01-01T00:00:00 /
# 9999-12-31T23:59:59.999999).  A with-year timestamp whose offset-shifted
# wall clock leaves this range is a parse FAILURE on both engine and
# oracle (never a crash) — the same documented policy as >9999 years.
_MIN_WALL_US = -62135596800 * _US
_MAX_WALL_US = 253402300799 * _US + 999999

_RXF_5424 = re.compile(
    r'(?:<(?P<pri>[0-9]++)>)?+'
    r'(?P<ver>[0-9]++)'
    r'[ \t]++'
    r'(?P<ts>-(?=[ \t])|[^ ]++)'
    r'[ \t]++'
    r'(?P<host>(?:\S|[\x1c-\x1f])++)'
    r'[ \t]++'
    r'(?P<app>(?:\S|[\x1c-\x1f])++)'
    r'[ \t]++'
    r'(?P<proc>(?:\S|[\x1c-\x1f])++)'
    r'[ \t]++'
    r'(?P<msgid>(?:\S|[\x1c-\x1f])++)'
    r'[ \t]*+'
    rf'(?P<sd>-|(?:{_ELEM_STRICT_5424}|{_ELEM_PERMISSIVE})++)'
    r'[ \t]*+'
    r'(?P<msg>.*)\Z',
    re.S,
)

_RXF_3164 = re.compile(
    r'(?:<(?P<pri>[0-9]++)>)?+'
    r'[ \t]*+'
    r'(?:'
    r'(?P<mon1>[A-Za-z]{3})[ \t]++(?P<d1>[0-9]++)[ \t]++'
    r'(?P<h1>[0-9]++):(?P<mi1>[0-9]++):(?P<s1>[0-9]++):?+'
    r'|(?P<mon2>[A-Za-z]{3})[ \t]++(?P<d2>[0-9]++)[ \t]++(?P<y2>[0-9]++)[ \t]++'
    r'(?P<h2>[0-9]++):(?P<mi2>[0-9]++):(?P<s2>[0-9]++):?+'
    r'|(?P<tsdash>-)'
    r'|(?P<ts3>[^ ]++)(?=[ ])'
    r')'
    r'(?: (?P<f1>(?:[^\s:]|[\x1c-\x1f]|:(?=(?:\S|[\x1c-\x1f])))++))?+'
    r'(?: (?P<f2>(?:[^\s:]|[\x1c-\x1f])++))?+'
    r'[ \t]*+'
    r'(?::)?+'
    r'[ \t]*+'
    rf'(?P<sd>-|(?:{_ELEM_STRICT_3164})++)?+'
    r'[ \t]*+'
    r'(?P<msg>.*)\Z',
    re.S,
)

_BAIL = object()   # semantic edge -> replay the row through the slow path
_NOT = object()    # this protocol does not apply -> try the next one

_RXF_3339 = re.compile(
    r"([0-9]{4})-([0-9]{2})-([0-9]{2})[Tt]"
    r"([0-9]{2}):([0-9]{2}):([0-9]{2})(?:\.([0-9]+))?"
    r"([Zz]|[+-][0-9]{2}:[0-9]{2})\Z"
)


def _days_from_ymd(y: int, mo: int, d: int, _memo={}):
    """days since 1970-01-01 or None when the calendar date is invalid."""
    key = (y, mo, d)
    v = _memo.get(key, 0)
    if v != 0:
        return v
    try:
        v = datetime(y, mo, d).toordinal() - _EPOCH_ORD
    except ValueError:
        v = None
    if len(_memo) > 200_000:
        _memo.clear()
    _memo[key] = v
    return v


def _rfc3339_fast(tok: str, memo: dict):
    """tok -> (epoch_us, offset_seconds) or None (invalid)."""
    hit = memo.get(tok, 0)
    if hit != 0:
        return hit if hit is not None else None
    out = None
    m = _RXF_3339.match(tok)
    if m is not None:
        h, mi, sec = int(m.group(4)), int(m.group(5)), int(m.group(6))
        # sec == 60 is chrono's leap second (timestamp.rs:14-22 via
        # parse_from_rfc3339): stored as second 59 + (1+frac) s, so its
        # epoch microseconds equal the next minute's start + frac — the
        # integer arithmetic below yields exactly that with sec = 60
        if h <= 23 and mi <= 59 and sec <= 60:
            days = _days_from_ymd(int(m.group(1)), int(m.group(2)),
                                  int(m.group(3)))
            if days is not None:
                frac = m.group(7)
                us = int(frac[:6].ljust(6, "0")) if frac else 0
                off = m.group(8)
                if off in ("Z", "z"):
                    offs = 0
                else:
                    oh, om = int(off[1:3]), int(off[4:6])
                    offs = ((oh * 3600 + om * 60)
                            * (1 if off[0] == "+" else -1)
                            if oh <= 23 and om <= 59 else None)
                if offs is not None:
                    wall = ((days * 86400 + h * 3600 + mi * 60 + sec)
                            * _US + us)
                    # the only way a 4-digit-year wall clock can leave
                    # year 1..9999 is the 9999-12-31T23:59:60 leap fold;
                    # the oracle's datetime arithmetic overflows there
                    # (OverflowError -> ParseFail), so reject in lockstep
                    if sec < 60 or wall <= _MAX_WALL_US:
                        out = (wall - offs * _US, offs)
    memo[tok] = out
    return out


def _dt_to_epoch(ts) -> tuple:
    """aware datetime -> (epoch_us, offset_seconds); slow-path bridge."""
    off = int(ts.utcoffset().total_seconds())
    u = ts.replace(tzinfo=None)
    days = u.toordinal() - _EPOCH_ORD
    epoch = ((days * 86400 + u.hour * 3600 + u.minute * 60 + u.second)
             * _US + u.microsecond - off * _US)
    return epoch, off


def _slow_row(s: str, cfg: ParseConfig, try_5424: bool, try_3164: bool):
    """Exact per-row parse (the nom-faithful reference path).  Returns a
    13-tuple (proto, ver, fac, sev, epoch_us, off, host, app, pid, pname,
    msgid, sd, msg) or None when the row falls back."""
    fac = sev = None
    h = s
    pm = _RX_PRI.match(s)
    if pm is not None:
        v = u_digits(pm.group(1), 255)
        if v is not None:
            f = v >> 3
            fac = f if f <= 23 else None
            sev = v & 7
            h = s[pm.end():]
    if try_5424:
        try:
            ver, ts, host, app, pid, pname, msgid, sd, msg = _parse_5424(h)
            epoch, off = _dt_to_epoch(ts) if ts is not None else (None, None)
            return ("RFC5424", ver, fac, sev, epoch, off, host, app, pid,
                    pname, msgid, sd, msg)
        except _Fail:
            pass
    if try_3164:
        try:
            ts, host, app, pid, pname, sd, msg = _parse_3164(h, cfg)
            epoch, off = _dt_to_epoch(ts) if ts is not None else (None, None)
            return ("RFC3164", None, fac, sev, epoch, off, host, app, pid,
                    pname, None, sd, msg)
        except _Fail:
            pass
    return None


def parse_lines(lines, raws, cfg: ParseConfig):
    """Parse a batch.  ``lines`` are the detokenized strings; ``raws`` the
    verbatim originals used for fallback msg (lib.rs:92).  Returns column
    lists in SYSLOG_FIELDS order (ts as int64 epoch microseconds)."""
    n = len(lines)
    cols = [[None] * n for _ in range(14)]
    (c_proto, c_ver, c_fac, c_sev, c_ts, c_off, c_host, c_app, c_pid,
     c_pname, c_msgid, c_sd, c_msg, c_ok) = cols
    try_5424 = cfg.variant in (VARIANT_EITHER, VARIANT_RFC5424)
    try_3164 = cfg.variant in (VARIANT_EITHER, VARIANT_RFC3164)

    memo_3339: dict = {}
    memo_sd5424: dict = {}
    memo_sd3164: dict = {}
    memo_3164ts: dict = {}
    year_fn = year_resolver(cfg.year_policy)
    zone = cfg.zone
    off_cfg = cfg.effective_offset
    explicit_tz = cfg.tz_offset_seconds is not None
    m5424 = _RXF_5424.match
    m3164 = _RXF_3164.match
    months = MONTHS

    def fast_5424(s: str):
        m = m5424(s)
        if m is None:
            return _NOT
        # ONE multi-name group call (the per-name calls were ~10% of
        # kernel CPU in the r8 profile)
        (pri, ver, tok, host, app, proc, msgid, sds, msg) = m.group(
            "pri", "ver", "ts", "host", "app", "proc", "msgid", "sd",
            "msg")
        if pri is not None:
            pri = u_digits(pri, 255)
            if pri is None:
                return _BAIL     # nom leaves an overflowing PRI unconsumed
        ver = u_digits(ver, U32_MAX)
        if ver is None:
            return _NOT
        if tok == "-":
            epoch = off = None
        else:
            r = _rfc3339_fast(tok, memo_3339)
            if r is None:
                return _NOT
            epoch, off = r
        if host == ":" or host[-1] == ":":
            return _NOT
        if app == ":" or proc == ":" or msgid == ":":
            return _NOT
        host = None if host == "-" else host
        app = None if app == "-" else app
        msgid = None if msgid == "-" else msgid
        pid = pname = None
        if proc != "-":
            pid, pname = _procid(proc)
        sd = memo_sd5424.get(sds)
        if sd is None:
            sd = _sd_elements(sds)
            memo_sd5424[sds] = sd
        if pri is None:
            fac = sev = None
        else:
            f = pri >> 3
            fac = f if f <= 23 else None
            sev = pri & 7
        return ("RFC5424", ver, fac, sev, epoch, off, host, app, pid,
                pname, msgid, sd, msg)

    def fast_3164(s: str):
        m = m3164(s)
        if m is None:
            return _NOT
        g = m.group
        # one multi-name fetch for the fields every branch needs
        (pri, mon, mon2, tsdash, f1, f2, sds, msg) = g(
            "pri", "mon1", "mon2", "tsdash", "f1", "f2", "sd", "msg")
        if pri is not None:
            pri = u_digits(pri, 255)
            if pri is None:
                return _BAIL
        if mon is not None:
            key = (mon,) + g("d1", "h1", "mi1", "s1")
            r = memo_3164ts.get(key, 0)
            if r == 0:
                mo = months.get(mon.lower())
                r = None
                parts = ([u_digits(x, U32_MAX) for x in key[1:]]
                         if mo is not None else None)
                if parts is not None and None not in parts:
                    d, hh, mi, ss = parts
                    if hh <= 23 and mi <= 59 and ss <= 59:
                        yr = year_fn(mo, d, hh, mi, ss)
                        days = _days_from_ymd(yr, mo, d)
                        if days is not None:
                            if zone is not None:
                                res = zone_earliest(
                                    datetime(yr, mo, d, hh, mi, ss), zone)
                                if res is not None:  # None == DST gap
                                    r = _dt_to_epoch(res)
                            else:
                                naive = ((days * 86400 + hh * 3600
                                          + mi * 60 + ss) * _US)
                                r = (naive - off_cfg * _US, off_cfg)
                memo_3164ts[key] = r
            if r is None:
                # invalid month/date: the with-year and RFC3339 branches
                # cannot syntactically match a no-year-shaped prefix, so
                # nom's timestamp (and thus 3164) fails -> fallback
                return _NOT
            epoch, off = r
        elif mon2 is not None:
            key = (mon2,) + g("d2", "y2", "h2", "mi2", "s2")
            r = memo_3164ts.get(key, 0)
            if r == 0:
                mo = months.get(key[0].lower())
                r = None
                parts = ([u_digits(x, U32_MAX) for x in key[1:]]
                         if mo is not None else None)
                if parts is not None and None not in parts:
                    d, y, hh, mi, ss = parts
                    if hh <= 23 and mi <= 59 and ss <= 59:
                        days = _days_from_ymd(y, mo, d)
                        if days is not None:
                            naive = ((days * 86400 + hh * 3600 + mi * 60
                                      + ss) * _US)
                            # with-year + explicit tz: naive treated as UTC
                            # (timestamp.rs:141-146); else local==pinned tz
                            if zone is not None:
                                try:
                                    off = zone_offset_from_utc(
                                        datetime(y, mo, d, hh, mi, ss),
                                        zone)
                                    r = (naive, off)
                                except ParseFail:  # zone astimezone
                                    r = None       # overflow -> fallback
                            elif explicit_tz:
                                # oracle's astimezone(tz) overflows when
                                # the offset-shifted wall clock leaves
                                # year 1..9999 -> both sides must fail
                                wall = naive + off_cfg * _US
                                if _MIN_WALL_US <= wall <= _MAX_WALL_US:
                                    r = (naive, off_cfg)
                            else:
                                r = (naive - off_cfg * _US, off_cfg)
                memo_3164ts[key] = r
            if r is None:
                return _NOT   # same reasoning as the no-year branch
            epoch, off = r
        elif tsdash is not None:
            epoch = off = None
        else:
            r = _rfc3339_fast(g("ts3"), memo_3339)
            if r is None:
                return _NOT   # all three ts alternatives failed -> fallback
            epoch, off = r
        # '-:' split-back keeps the literal '-' hostname (see _parse_3164)
        if f1 is None:
            f1 = _ABSENT
        elif f1 == "-" and not s.startswith(":", m.end("f1")):
            f1 = None
        f2 = _ABSENT if f2 is None else (None if f2 == "-" else f2)
        host, app, pid_tok = _resolve_host_tag(f1, f2)
        pid, pname = _procid(pid_tok) if pid_tok is not None else (None, None)
        if sds is None:
            sd = []
        else:
            sd = memo_sd3164.get(sds)
            if sd is None:
                sd = _sd_elements(sds)
                memo_sd3164[sds] = sd
        if pri is None:
            fac = sev = None
        else:
            f = pri >> 3
            fac = f if f <= 23 else None
            sev = pri & 7
        return ("RFC3164", None, fac, sev, epoch, off, host, app, pid,
                pname, None, sd, msg)

    for i in range(n):
        s = lines[i].strip(REF_WS)
        row = _NOT
        if try_5424:
            row = fast_5424(s)
        if row is _NOT and try_3164:
            row = fast_3164(s)
        if row is _BAIL:
            row = _slow_row(s, cfg, try_5424, try_3164)
            if row is None:
                row = _NOT
        if row is _NOT:
            # tolerant fallback (lib.rs:77-92): all nulls, msg = raw input
            c_proto[i], c_sd[i], c_msg[i], c_ok[i] = \
                "RFC3164", [], raws[i], False
            continue
        (c_proto[i], c_ver[i], c_fac[i], c_sev[i], c_ts[i], c_off[i],
         c_host[i], c_app[i], c_pid[i], c_pname[i], c_msgid[i], c_sd[i],
         c_msg[i]) = row
        c_ok[i] = True
    return cols


_ARROW_STRUCT_TYPE = None


def _arrow_struct_type():
    """The exact Arrow type Spark expects for SYSLOG_STRUCT (nullability
    and session-UTC timestamp included), derived once from the schema."""
    global _ARROW_STRUCT_TYPE
    if _ARROW_STRUCT_TYPE is None:
        from pyspark.sql.pandas.types import to_arrow_type

        from ..schema import SYSLOG_STRUCT

        _ARROW_STRUCT_TYPE = to_arrow_type(SYSLOG_STRUCT)
    return _ARROW_STRUCT_TYPE


def _cols_to_arrow(cols):
    """Column lists -> pa.StructArray in SYSLOG_FIELDS order, built
    directly (no pandas intermediate) with Spark's exact Arrow type."""
    st = _arrow_struct_type()
    arrays = [pa.array(col, type=st.field(i).type)
              for i, col in enumerate(cols)]
    return pa.StructArray.from_arrays(arrays, fields=list(st))


def _token_bytes(tokens: pa.ListArray):
    """The list<int32> tokens as one uint8 buffer indexed by
    ``tokens.offsets``, plus the rows holding a token outside the byte
    domain 0-255 or a null token (None when there are none).  Such a
    token has no byte to stand for, so it is written as 0xFF, which
    decodes to U+FFFD, and its row becomes a fallback row (_dead_letter)
    instead of a silently different line."""
    values = tokens.values
    if values.null_count:
        values = values.fill_null(-1)
    flat = values.to_numpy(zero_copy_only=False)
    # negative int32 values view as uint32 > 255: one reduction, no copy
    if not flat.size or flat.view(np.uint32).max() <= 255:
        return flat.astype(np.uint8), None
    out = flat.view(np.uint32) > 255
    seen = np.concatenate(([0], np.cumsum(out)))
    offs = tokens.offsets.to_numpy(zero_copy_only=False)
    bad = np.flatnonzero(seen[offs[1:]] != seen[offs[:-1]])
    return np.where(out, 0xFF, flat).astype(np.uint8), bad


def _dead_letter(cols, rows, raws) -> None:
    """Overwrite ``rows`` of parse_lines' columns with the tolerant
    fallback row (lib.rs:77-92): all nulls, msg = raw input, parse_ok
    false, so the router sends them to the dead_letter sink."""
    for i in rows:
        for col in cols:
            col[i] = None
        cols[0][i], cols[11][i], cols[12][i], cols[13][i] = \
            "RFC3164", [], raws[i], False


def parse_tokens_udf(cfg: ParseConfig = ParseConfig()):
    """Struct-returning *arrow-native* UDF over the tokens column.  Zero
    pandas conversion in either direction: the list<int32> arrives as one
    Arrow buffer, is flattened and narrowed to bytes, and the parsed batch
    goes back as a directly-built pa.StructArray.  The tokens column never
    round-trips Python, so every routed row keeps byte equality with its
    input for free (BASELINE.json per-row invariant).  (A tinyint remap of
    the tokens measured SLOWER overall: the JVM per-element transform
    costs more than the 4x Arrow-stream saving.)"""
    from pyspark.sql.functions import arrow_udf

    from ..schema import SYSLOG_STRUCT

    @arrow_udf(SYSLOG_STRUCT)
    def _parse(tokens: pa.Array) -> pa.Array:
        if isinstance(tokens, pa.ChunkedArray):
            tokens = tokens.combine_chunks()
        flat, bad = _token_bytes(tokens)
        offs = tokens.offsets.to_numpy(zero_copy_only=False)
        buf = flat.tobytes()
        raws = [buf[offs[j]:offs[j + 1]].decode("utf-8", "replace")
                for j in range(len(offs) - 1)]
        cols = parse_lines(raws, raws, cfg)
        if bad is not None:
            _dead_letter(cols, bad, raws)
        return _cols_to_arrow(cols)

    return _parse


def parse_tokenized(df, cfg: ParseConfig = ParseConfig()):
    """The pipeline parse stage: (doc_id, tokens, n_tok, source) ->
    PARSED_SCHEMA.  One ArrowEvalPython node = the job's only JVM→Python
    boundary."""
    from pyspark.sql import functions as F

    m = parse_tokens_udf(cfg)(F.col("tokens")).alias("m")
    return df.select("doc_id", "source", "n_tok", "tokens", m) \
        .select("doc_id", "source", "n_tok", "tokens", "m.*")


def parse_syslog_udf(cfg: ParseConfig = ParseConfig()):
    """Arrow-native UDF: string column -> SYSLOG_STRUCT (for ad-hoc use,
    mirroring parse_message, lib.rs:121-123).  Null input rows behave as
    empty strings (fallback row with empty msg)."""
    from pyspark.sql.functions import arrow_udf

    from ..schema import SYSLOG_STRUCT

    @arrow_udf(SYSLOG_STRUCT)
    def _parse(raw: pa.Array) -> pa.Array:
        if isinstance(raw, pa.ChunkedArray):
            raw = raw.combine_chunks()
        vals = ["" if v is None else v for v in raw.to_pylist()]
        return _cols_to_arrow(parse_lines(vals, vals, cfg))

    return _parse
