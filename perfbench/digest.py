"""The per-event hash shared by the ship generator (the truth) and the
check of what the benchmark's sink delivered."""

from __future__ import annotations

import hashlib
import json

DIGEST_MOD = 1 << 64


def event_digest(raw: str, offset: int, ts: int, etype: str, event: dict) -> int:
    """Order-independent-sum term for one delivered event: a 64-bit hash
    of the raw line, its metadata and its flattened ``event`` map."""
    canon = json.dumps(
        [raw, offset, ts, etype, sorted(event.items())], separators=(",", ":")
    )
    return int.from_bytes(
        hashlib.blake2b(canon.encode(), digest_size=8).digest(), "big"
    )
