"""Dump `.explain("formatted")` for every declared query to
plans/<round>/<query>_<suffix>.txt. Usage:

    python tools/dump_round_plans.py r15 before [q_name ...]

With no query names, dumps all of queries().
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    round_tag, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as E
    from bitfilters_spark.session import make_session

    spark = make_session(app=f"dump-plans-{round_tag}", cpus=4, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    outdir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", round_tag)
    os.makedirs(outdir, exist_ok=True)
    qs = E.queries()
    for name, fn in qs.items():
        if names and name not in names:
            continue
        try:
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                fn(spark, sf_dir).explain("formatted")
            text = buf.getvalue()
        except Exception as ex:
            text = f"EXPLAIN FAILED: {ex}\n"
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(text)
        print(f"wrote {name}_{suffix}.txt ({len(text)} chars)", flush=True)


if __name__ == "__main__":
    main()
