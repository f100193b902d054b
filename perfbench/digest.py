"""Order-insensitive output digests, canonicalised like the oracle check."""

from __future__ import annotations

import hashlib

from tools.emulate_driver import _canon


def frame(rows, columns):
    """The collected ``rows`` as a pandas frame."""
    import pandas as pd

    return pd.DataFrame.from_records([tuple(r) for r in rows], columns=list(columns))


def digest(rows, columns) -> str:
    """Digest of collected Spark rows; see :func:`digest_frame`."""
    return digest_frame(frame(rows, columns))


def digest_frame(df) -> str:
    """sha256 over the sorted, canonicalised rows and the sorted column names
    of the pandas frame ``df``."""
    canon = _canon(df.reindex(sorted(df.columns), axis=1))
    h = hashlib.sha256("\x1f".join(canon.columns).encode())
    for line in sorted("\x1f".join(t) for t in canon.itertuples(index=False)):
        h.update(b"\x1e" + line.encode())
    return h.hexdigest()
