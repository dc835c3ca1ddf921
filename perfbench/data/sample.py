#!/usr/bin/env python3
"""Writes the benchmark's input sample from the sf0.1 test fixtures.

    python3 perfbench/data/sample.py <sf0.1 fixture dir>

The benchmark reads only files inside its checkout, so it carries this
sample of the fixtures rather than the 17 MB of sf0.1. Rows are selected,
never changed, and every file keeps the fixture's parquet schema:

- documents, embeddings and the dimensions (region, nation, customer,
  supplier, part): the whole sf0.1 table;
- orders: the key range o_orderkey < 10000 (a fifteenth of sf0.1; keys are
  independent of dates, so the range still spans all 80 order months);
- lineitem: the lines of those orders;
- events: every tenth event (event_id % 10 = 0), so the sample keeps the
  30 days and the users of the full log.

The output is deterministic: the same fixtures give the same files.
"""
import os
import shutil
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

WHOLE = ("region", "nation", "customer", "supplier", "part", "documents", "embeddings")
ORDER_KEYS = 10000
EVENT_STRIDE = 10


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__.strip().splitlines()[2].strip())
    src = sys.argv[1]
    out = os.path.dirname(os.path.abspath(__file__))
    for t in WHOLE:
        shutil.copyfile(os.path.join(src, f"{t}.parquet"), os.path.join(out, f"{t}.parquet"))

    def subset(name, keep):
        table = pq.read_table(os.path.join(src, f"{name}.parquet"))
        table = table.filter(keep(table))
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
        print(f"{name}: {table.num_rows} rows")

    subset("orders", lambda t: pc.less(t["o_orderkey"], ORDER_KEYS))
    subset("lineitem", lambda t: pc.less(t["l_orderkey"], ORDER_KEYS))
    subset("events", lambda t: pa.array(t["event_id"].to_numpy() % EVENT_STRIDE == 0))

if __name__ == "__main__":
    main()
