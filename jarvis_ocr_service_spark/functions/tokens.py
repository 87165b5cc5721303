"""The repo's pinned py-token class, as a shared Column builder.

Tokens are lowercased Python-``str.split()``-equivalent whitespace
tokens (drop empties). This is THE single definition — lexsearch,
vocab, and any future token-consuming op import it (byte-identity
invariant: never fork implementations; a fork here would silently
desynchronize token semantics between modules and their oracles).

The matching pure-Python form is ``(text or "").lower().split()``
(used driver-side by contamination's gram builder and the tests).
"""

from __future__ import annotations

from pyspark.sql import functions as F


def py_tokens_col(col):
    """Lowercased Python-str.split()-equivalent tokens (drops empties)."""
    t = F.trim(F.lower(F.coalesce(col, F.lit(""))))
    return F.filter(F.split(t, r"\s+"), lambda tk: tk != F.lit(""))
