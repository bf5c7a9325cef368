#!/usr/bin/env python
"""Print a digest of the driver contract: one
``sha256(key + "\\0" + oracle_sql)`` line per registered query key
(``<none>`` stands in for a missing oracle), sorted by key, then the
key and oracle counts.  No SparkSession is started.  Diff the output
of two checkouts to prove a change kept every key and oracle string:

    python scripts/registry_digest.py > after.txt
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entry  # noqa: E402

keys, oracles = entry.queries(), entry.oracle_sql()
for key in sorted(keys):
    blob = key + "\0" + oracles.get(key, "<none>")
    print(hashlib.sha256(blob.encode()).hexdigest(), key)
print(f"keys {len(keys)}")
print(f"oracles {len(oracles)}")
