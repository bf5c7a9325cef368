#!/usr/bin/env python3
"""Refresh ``digests.json``: the expected row-multiset digest of every
curate_queries query, computed by the query's DuckDB oracle
(``oracle_sql()`` in ``__spark_entry__``) over the benchmark corpus.

    python3 perfbench/pin_digests.py

Run it from the root of a checkout after a change to the corpus
generator, to the query set, or to an oracle. The benchmark itself
never runs the oracles; it compares Spark's output with these digests.
"""

from __future__ import annotations

import json
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main() -> int:
    sys.path.insert(0, str(ROOT))
    import duckdb

    import __spark_entry__ as entry
    from perfbench import inputs, workloads

    work = ROOT / ".perfbench" / "pin-digests"
    sizes = inputs.Sizes()
    try:
        corpus = inputs.write_corpus(str(work), sizes.corpus_docs)
        con = duckdb.connect()
        for table in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{corpus.path}/{table}.parquet')")
        oracles = entry.oracle_sql()
        digests = {}
        for q in inputs.CURATE_QUERIES:
            t0 = time.perf_counter()
            cur = con.execute(oracles[q])
            cols = [d[0] for d in cur.description]
            rows = cur.fetchall()
            if not rows:
                raise SystemExit(f"{q}: the oracle returns no rows, so its digest would check nothing")
            digests[q] = workloads.rows_digest(cols, rows)
            print(f"{q}: {len(rows)} rows in {time.perf_counter() - t0:.2f} s", file=sys.stderr)
        con.close()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out = {
        "corpus_seed": inputs.CORPUS_SEED,
        "corpus_docs": sizes.corpus_docs,
        "queries": digests,
    }
    workloads.DIGESTS_PATH.write_text(json.dumps(out, indent=2) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
