"""Order-insensitive result hash, the Python twin of ``Canon.scala``.

Values are canonicalised by ``tools/check_oracle.py`` itself (columns
sorted by lower-cased name, floats at full precision, ``NaN`` for
not-a-number, hex for bytes); this module only sorts the rows as a
multiset and digests them."""
import hashlib
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))

from check_oracle import canon, table_hash   # noqa: E402,F401


def result_hash(columns, rows):
    cols = [c.lower() for c in columns]
    h = hashlib.sha256()
    h.update("\x1f".join(sorted(cols)).encode())
    h.update(b"\n")
    for t in sorted(table_hash(rows, cols)):
        h.update("\x1f".join(t).encode())
        h.update(b"\n")
    return h.hexdigest()[:16]
