"""Duration parsing — Go-style duration strings ("1h30m", "10s", "500ms")
to seconds / Spark interval strings.

The reference's DSL uses Go ``time.Duration`` literals throughout
(e.g. /root/reference/pipeline/window.go:30 ``Period time.Duration``); we
accept the same textual forms plus plain Spark interval strings.
"""

from __future__ import annotations

import re

_UNIT_SECONDS = {
    "ns": 1e-9,
    "us": 1e-6,
    "µs": 1e-6,
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "h": 3600.0,
    "d": 86400.0,
    "w": 604800.0,
}

_TOKEN = re.compile(r"(\d+(?:\.\d+)?)(ns|us|µs|ms|s|m|h|d|w)")


def parse_duration(d: str | int | float) -> float:
    """Parse a duration into seconds.

    Accepts Go-style strings ("1h", "90s", "1h30m", "-5m", "250ms"),
    bare numbers (seconds), and Spark-style "N unit" strings
    ("10 seconds", "1 hour").
    """
    if isinstance(d, (int, float)):
        return float(d)
    s = d.strip().lower()
    sign = 1.0
    if s.startswith("-"):
        sign, s = -1.0, s[1:]
    elif s.startswith("+"):
        s = s[1:]

    # Spark-style "10 seconds" / "1 hour"
    m = re.fullmatch(r"(\d+(?:\.\d+)?)\s+([a-z]+)", s)
    if m:
        val, unit = float(m.group(1)), m.group(2).rstrip("s")
        table = {
            "nanosecond": 1e-9, "microsecond": 1e-6, "millisecond": 1e-3,
            "second": 1.0, "minute": 60.0, "hour": 3600.0,
            "day": 86400.0, "week": 604800.0,
        }
        if unit in table:
            return sign * val * table[unit]
        raise ValueError(f"unknown duration unit in {d!r}")

    total, pos = 0.0, 0
    for m in _TOKEN.finditer(s):
        if m.start() != pos:
            raise ValueError(f"cannot parse duration {d!r}")
        total += float(m.group(1)) * _UNIT_SECONDS[m.group(2)]
        pos = m.end()
    if pos != len(s) or pos == 0:
        raise ValueError(f"cannot parse duration {d!r}")
    return sign * total


def to_interval(d: str | int | float) -> str:
    """Duration → Spark interval string with microsecond fidelity."""
    micros = round(parse_duration(d) * 1_000_000)
    return f"{micros} microseconds"
