"""Point lookups over a clustered table whose files hold many row groups.

Writes ``--files`` parquet files of ``--rows`` rows each (``k`` bigint,
clustered: file i holds the keys ``[i*rows, (i+1)*rows)``, a random ``v``
and a string ``s``), ``--row-group`` rows to a row group, builds and saves
a bloom file index, and times ``skipping_read(...).count()`` of an IN-list
of one present and three absent keys. Each lookup keeps one file; inside
it, only a pushed ``IN`` lets the Parquet reader skip the row groups that
hold none of the keys.

Each lookup runs three times, in turn, with the exact re-check as

- ``auto``: what ``skipping_read`` picks (``isin`` here, since the files
  hold several row groups),
- ``isin``: always the pushed ``isin``,
- ``array``: always the ``array_contains`` literal, never pushed,

and per form print one JSON line of the median wall and CPU milliseconds
of a lookup (CPU: this process and Spark's JVM, read from ``/proc``), the
first ``WARMUP`` lookups left out. Usage:

    python tools/skipping_rowgroups.py [--files 4] [--rows 2000000] [--row-group 20000]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

LOOKUPS = 30
WARMUP = 6


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--files", type=int, default=4)
    ap.add_argument("--rows", type=int, default=2_000_000, help="rows per file")
    ap.add_argument("--row-group", type=int, default=20_000, help="rows per row group")
    ap.add_argument("--cpus", type=int, default=2)
    a = ap.parse_args()

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bitfilters_spark.session import make_session
    from bitfilters_spark.sources import skipping

    work = tempfile.mkdtemp(prefix="skipping_rowgroups-")
    table = os.path.join(work, "t")
    os.makedirs(table)
    rng = np.random.default_rng(7)
    for i in range(a.files):
        k = np.arange(i * a.rows, (i + 1) * a.rows, dtype=np.int64)
        pq.write_table(
            pa.table({"k": k, "v": rng.integers(0, 1 << 40, a.rows),
                      "s": pa.array(np.char.mod("row-%09d", k))}),
            os.path.join(table, f"part-{i:03d}.parquet"), row_group_size=a.row_group,
        )
    spark = make_session(cpus=a.cpus)
    jvm = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    def cpu() -> float:
        with open(f"/proc/{jvm}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK") + time.process_time()

    in_values = skipping._in_values
    try:
        skipping.save_index(
            skipping.build_file_index(spark, table, ["k"], "bloom", n=a.rows, fpp=0.01),
            os.path.join(work, "idx"),
        )
        idx = skipping.load_index(spark, os.path.join(work, "idx"))
        forms = {"auto": in_values,
                 "isin": lambda c, t, v, _: in_values(c, t, v, True),
                 "array": lambda c, t, v, _: in_values(c, t, v, False)}
        walls = {form: [] for form in forms}
        cpus = {form: [] for form in forms}
        for j in range(LOOKUPS):
            for form, recheck in forms.items():  # interleaved, so drift hits each alike
                skipping._in_values = recheck
                keys = [int(rng.integers(0, a.files * a.rows))]
                keys += [int(v) for v in rng.integers(10**12, 10**13, 3)]
                c0, w0 = cpu(), time.perf_counter()
                n = skipping.skipping_read(spark, table, "k", keys, index=idx).count()
                w, c = time.perf_counter() - w0, cpu() - c0
                assert n == 1, (keys, n)
                if j >= WARMUP:
                    walls[form].append(w)
                    cpus[form].append(c)
        for form in forms:
            print(json.dumps({
                "form": form, "files": a.files, "rows_per_file": a.rows,
                "row_group": a.row_group,
                "wall_ms": round(statistics.median(walls[form]) * 1e3, 1),
                "cpu_ms": round(statistics.median(cpus[form]) * 1e3, 1),
            }), flush=True)
    finally:
        skipping._in_values = in_values
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
