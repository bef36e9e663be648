"""Per-key threshold files (monit-objects-mavg-limfile.c, CONFIG.md:438-469).

CSV keyed by the mavg key-field tuple in declared order, last column the
threshold; '#' comments and blank lines allowed; keys absent from the file
fall back to the section's ``default``. Loaded as a plain dict keyed by
the typed key tuple (``coerce_limit_keys``), which the stateful
streaming op reads per key.
"""

from __future__ import annotations


def parse_limits_lines(lines, n_keys: int) -> dict[tuple, float]:
    out: dict[tuple, float] = {}
    for raw in lines:
        line = raw.strip()
        if not line or line.startswith("#"):
            continue
        parts = [p.strip() for p in line.split(",")]
        if len(parts) != n_keys + 1:
            continue  # malformed line skipped (reference skips quietly)
        out[tuple(parts[:n_keys])] = float(parts[n_keys])
    return out


def load_limits_csv(path: str, n_keys: int) -> dict[tuple, float]:
    with open(path) as fh:
        return parse_limits_lines(fh, n_keys)


def coerce_limit_keys(
    limits: dict[tuple, float], key_types: list[str]
) -> dict[tuple, float]:
    """Convert raw CSV string keys into the TYPED domain of the
    streaming group key. The stateful ops group by the projected key
    COLUMNS, so the lookup tuple holds longs for IP4/INT fields, bytes
    for IP6/MAC, floats for doubles — a dict keyed by the CSV's strings
    can never match and every per-key limit silently falls back to the
    section default. ``key_types`` are the Spark dtypes of the key
    columns in declared order (``df.dtypes``)."""
    import socket

    def conv(s: str, t: str):
        t = t.lower()
        if t in ("bigint", "int", "smallint", "tinyint", "long"):
            if s.count(".") == 3:
                try:
                    return int.from_bytes(socket.inet_aton(s), "big")
                except OSError:
                    pass
            try:
                return int(s, 0)
            except ValueError:
                return s
        if t in ("double", "float"):
            try:
                return float(s)
            except ValueError:
                return s
        if t == "binary":
            if ":" in s:
                try:
                    return socket.inet_pton(socket.AF_INET6, s)
                except OSError:
                    parts = s.split(":")
                    if len(parts) == 6:       # MAC aa:bb:cc:dd:ee:ff
                        try:
                            return bytes(int(p, 16) for p in parts)
                        except ValueError:
                            pass
            return s.encode()
        return s

    return {
        tuple(conv(p, t) for p, t in zip(k, key_types)): v
        for k, v in limits.items()
    }


def norm_group_key(key: tuple) -> tuple:
    """Normalize a stateful-op group key for limit lookup: pandas hands
    BinaryType key parts over as bytearray/memoryview, which never
    equals the bytes the coerced limits dict holds."""
    return tuple(
        bytes(p) if isinstance(p, (bytearray, memoryview)) else p
        for p in key
    )

