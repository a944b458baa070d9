"""Order-insensitive result hashes, with the canonicalization of the
engine's own oracle comparison (``tests/compare.py``): columns sorted by
name, every value canonicalized exactly, rows sorted."""

from __future__ import annotations

import hashlib

import pandas as pd

from tests.compare import canon_rows


def frame_hash(pdf: pd.DataFrame) -> str:
    """Hash of a result's column names and its multiset of canonical rows."""
    h = hashlib.sha256("\x1f".join(sorted(pdf.columns)).encode())
    for row in canon_rows(pdf):
        h.update(("\x1e" + "\x1f".join(row)).encode())
    return h.hexdigest()[:20]


def metrics_hash(metrics: dict[str, float]) -> str:
    """Hash of a metric dict, as a one-row frame."""
    return frame_hash(pd.DataFrame([metrics]))
