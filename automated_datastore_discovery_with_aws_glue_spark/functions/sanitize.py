"""Identifier sanitization (SURVEY §2.8 F4).

Catalog-compatible naming, mirroring the reference's rules
(`lambda/catalog-creator-s3/app.py:246-249` replaces '-' and '.' with '_';
`lambda/catalog-creator-ddb/app.py:226` lowercases).
"""

from __future__ import annotations

import re

_SANITIZE_RX = re.compile(r"[^0-9a-zA-Z_]")


def sanitize_identifier(name: str) -> str:
    """Driver-side: make an arbitrary source name a valid catalog
    identifier (idempotent; property-tested)."""
    out = _SANITIZE_RX.sub("_", name).lower()
    if not out or out[0].isdigit():
        out = "t_" + out
    return out

