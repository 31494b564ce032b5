#!/usr/bin/env python3
"""Write the `curate` workload's fixed document sample.

    python3 perfbench/sample_docs.py <sf0.1 testdata dir>

Draws SAMPLE_DOCS rows of the testdata `documents.parquet` (the
multilingual sf0.1 corpus, 5,000 docs) with a fixed seed and writes them,
in doc_id order and the same schema, to `perfbench/data/documents.parquet`.
The benchmark reads only that sample, so a run needs nothing outside its
checkout; the seeded near-copies and the shared span are planted on top
of it at run time (`gen.plant_duplicates`).
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow.parquet as pq

SAMPLE_DOCS = 600
OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                   "documents.parquet")


def main(argv) -> int:
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    table = pq.read_table(os.path.join(argv[0], "documents.parquet"))
    rng = np.random.Generator(np.random.Philox(key=[0, 600]))
    rows = np.sort(rng.choice(table.num_rows, SAMPLE_DOCS, replace=False))
    sample = table.take(rows).replace_schema_metadata(None)
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    pq.write_table(sample, OUT)
    print(f"{sample.num_rows} docs -> {OUT}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
