"""Filter-path benchmark for bitfilters_spark.

Drives the paper's three uses of a filter with no false negatives through
the package's public functions, from one driver thread on one
``make_session`` at ``local[<cores>]``:

* grouped build: ``functions.filters.build_filter`` per group for
  ``duckdb_bloom``, ``xor8`` and ``quotient``, then ``probe_filter``;
* join pre-filtering: ``plans.filter_join.bloom_prefiltered_join`` and
  ``antijoin_filter``;
* file-level skipping: ``sources.skipping.build_file_index`` and a closed
  loop of ``skipping_read`` point lookups (one client).

Workload ``group_build`` is the grouped build; workload ``join_skip`` is the
other two uses. Every result is checked against a numpy oracle computed from
the generated inputs (``workload.py``). Usage, from the repository root::

    python3 perfbench/run.py --workload group_build --seed 1 --seconds 20 --trace 0

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the
workload untraced for half the time, then restarts the session with Spark's
event log on and runs it traced for the other half, adds one traced round of
the other workload's operations, and prints the per-layer metrics.
The last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict

from spans import tree_cpu_s

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

KINDS = ("duckdb_bloom", "xor8", "quotient")
# Lookups per round of join_skip: enough that their time weighs about as much
# in the query metrics as the join's and the anti-join's execution together,
# so that a regression of the lookup path can cross the metrics' bound.
LOOKUPS_PER_ROUND = 8
# The operations of each role, build and query, with their count per round:
# a role's time is the sum of each operation's median time x its count.
WORKLOADS = {
    "group_build": {
        "build": {f"build.{k}": 1 for k in KINDS},
        "query": {f"probe.{k}": 1 for k in KINDS},
    },
    "join_skip": {
        "build": {"join.construct": 1, "antijoin.construct": 1, "index_build": 1},
        "query": {"join.execute": 1, "antijoin.execute": 1, "lookup": LOOKUPS_PER_ROUND},
    },
}
SETUPS = 3
# A run is a fixed number of rounds, after one warm-up round, so that every
# run of a workload does the same operations in the same order. --seconds
# sets the count through the wall time of one warm round on a 4-core host;
# each run makes at least MIN_ROUNDS, each side of a traced run at least
# MIN_TRACED_ROUNDS.
ROUND_S = {"group_build": 6.0, "join_skip": 7.5}
MIN_ROUNDS = 3
MIN_TRACED_ROUNDS = 2
# Lookups the untraced side of a traced run makes in all, so that at least
# ten samples lie beyond lookup_ms_p90.
LOOKUP_SAMPLES = 100
# Spans whose engine counters the traced run reports.
COUNTED_SPANS = tuple(f"build.{k}" for k in KINDS) + (
    "join.construct", "join.execute", "antijoin.construct",
    "antijoin.execute", "index_build", "lookup",
)
COUNTER_UNITS = {"jobs": "count", "tasks": "count", "_s": "s", "_mb": "MB"}


def now() -> float:
    return time.perf_counter()


median = statistics.median


def pct(xs, p: int) -> float:
    """The p-th percentile, interpolated between samples, never beyond the
    largest."""
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1] if len(xs) > 1 else xs[0]


class Bench:
    """Measured operations on one session. Each operation's result is
    checked against the oracle; only correct operations leave samples."""

    def __init__(self, spark, tracer=None):
        self.spark, self.tracer = spark, tracer
        self.g = self.j = self.t = None  # GroupInputs, JoinInputs, TableInputs
        self.attempted = 0
        self.failed = 0
        self.samples = defaultdict(list)  # name -> wall seconds per call
        self.cpu = defaultdict(list)  # name -> CPU seconds per call
        self._pending = {}
        self.fp = {}  # kind -> false hits among the sample's non-members
        self.blob_bytes = {}  # kind -> bytes of all group blobs
        self.survivors = []  # Observations of the prefiltered join's probe
        self.index = None
        self.lookups_done = 0
        self.traced_wall = 0.0  # wall time spent inside ``traced``

    def load(self, g=None, j=None, t=None) -> None:
        from pyspark.sql import functions as F

        read = self.spark.read.parquet
        if g:
            self.g, self.keys, self.sample = g, read(g.keys_path), read(g.sample_path)
        if j:
            self.j, self.fact = j, read(j.fact_path)
            self.dim_kept = read(j.dim_path).where(F.col("sel") < j.keep)
        if t:
            self.t = t

    def span(self, name):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    @contextlib.contextmanager
    def step(self, name):
        """Time one blocking call (inside a span when tracing): its wall
        time, and the CPU time this process and the ones it started spent."""
        t, c = now(), tree_cpu_s()
        with self.span(name):
            yield
        self._pending[name] = (now() - t, tree_cpu_s() - c)

    def op(self, name, fn, check):
        """Run one operation and check its result. Returns the result, or
        None if it raised or was wrong."""
        self.attempted += 1
        self._pending = {}
        try:
            with self.step(name):
                result = fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None
        problem = check(result)
        if problem:
            print(f"# WRONG {name}: {problem}", file=sys.stderr)
            self.failed += 1
            return None
        for k, (wall, cpu) in self._pending.items():
            self.samples[k].append(wall)
            self.cpu[k].append(cpu)
        return result

    # -- grouped build and probe --------------------------------------------

    def group_iteration(self) -> None:
        from bitfilters_spark.functions.filters import build_filter, probe_filter
        from bitfilters_spark.functions.hashing import spark_hash64
        from pyspark.sql import functions as F

        g = self.g
        hashed = self.keys.select("g", spark_hash64("k").alias("h"))
        probe_in = self.sample.withColumn("h", spark_hash64("k"))
        built = 0.0
        for kind in KINDS:
            rows = self.op(
                f"build.{kind}",
                lambda: build_filter(hashed, ["g"], "h", kind, **g.params[kind]).collect(),
                lambda r: None if len(r) == g.groups and all(x["filter"] for x in r)
                else f"{len(r)} blobs for {g.groups} groups",
            )
            if rows is None:
                continue
            built += self.samples[f"build.{kind}"][-1]
            blobs = {(r["g"],): bytes(r["filter"]) for r in rows}
            self.blob_bytes[kind] = sum(len(b) for b in blobs.values())

            def probe():
                return probe_filter(probe_in, blobs, "h", on=["g"]).groupBy("g", "member").agg(
                    F.sum(F.col("__contains").cast("long")).alias("hits")
                ).collect()

            hits = self.op(f"probe.{kind}", probe, self._check_members)
            if hits is not None:
                self.fp[kind] = sum(r["hits"] for r in hits if not r["member"])
        self.samples["build_iteration"].append(built)

    def _check_members(self, rows):
        got = {r["g"]: r["hits"] for r in rows if r["member"]}
        want = self.g.member_counts
        return None if got == want else f"member hits {got} != sample group sizes {want}"

    # -- join pre-filtering ---------------------------------------------------

    def join_iteration(self) -> None:
        from bitfilters_spark.plans.filter_join import antijoin_filter, bloom_prefiltered_join

        j = self.j

        def join():
            with self.step("join.construct"):
                df = bloom_prefiltered_join(self.fact, self.dim_kept, "fk", "dk", **j.params)
            with self.step("join.execute"):
                return df.groupBy("attr").count().collect()

        def anti():
            with self.step("antijoin.construct"):
                df = antijoin_filter(self.fact, self.dim_kept, "fk", "dk", **j.params)
            with self.step("antijoin.execute"):
                return df.count()

        self.op("join", join, self._check_join)
        self.op("antijoin", anti, self._check_anti)

    def _check_join(self, rows):
        got = {r["attr"]: r["count"] for r in rows}
        return None if got == self.j.counts else f"{got} != {self.j.counts}"

    def _check_anti(self, n):
        return None if n == self.j.anti else f"{n} rows != {self.j.anti}"

    # -- file-level skipping ----------------------------------------------------

    def build_index(self) -> None:
        from bitfilters_spark.sources import skipping

        t = self.t
        side = "traced" if self.tracer else "plain"
        path = os.path.join(os.path.dirname(t.path), f"index-{side}-{self.attempted}")

        def build():
            idx = skipping.build_file_index(self.spark, t.path, ["k"], kind="bloom", **t.params)
            skipping.save_index(idx, path)
            loaded = skipping.load_index(self.spark, path)
            return loaded, loaded.count()

        out = self.op("index_build", build, lambda r: None if r[1] == t.files
                      else f"{r[1]} index rows for {t.files} files")
        self.index = out[0] if out else None

    def lookup(self) -> None:
        from bitfilters_spark.sources import skipping

        t, i = self.t, self.lookups_done % len(self.t.lookups)
        self.lookups_done += 1
        self.op(
            "lookup",
            lambda: skipping.skipping_read(self.spark, t.path, "k", t.lookups[i], index=self.index).count(),
            lambda n: None if n == t.rows[i] else f"{n} rows for {t.lookups[i]}, want {t.rows[i]}",
        )

    # -- workloads ----------------------------------------------------------------

    def round(self, workload: str) -> None:
        """One round of a workload: the three filter kinds built and probed,
        or a prefiltered join, an anti-join, an index build and
        ``LOOKUPS_PER_ROUND`` lookups against that index."""
        if workload == "group_build":
            self.group_iteration()
            return
        self.join_iteration()
        self.build_index()
        for _ in range(LOOKUPS_PER_ROUND if self.index is not None else 0):
            self.lookup()

    def warm(self, workload: str) -> None:
        """One round whose times are dropped; its results are still checked.
        On a fresh JVM the first round spends about twice the CPU of later
        ones, compiling hot code."""
        self.round(workload)
        self.samples.clear()
        self.cpu.clear()

    def run(self, workload: str, rounds: int) -> None:
        for _ in range(rounds):
            self.round(workload)
            if self.failed > 10:
                break

    def role_sum(self, workload: str, role: str, cpu: bool = False) -> float:
        """Wall (or CPU) seconds of one round's operations of ``role``."""
        samples = self.cpu if cpu else self.samples
        return sum(median(samples[n]) * count
                   for n, count in WORKLOADS[workload][role].items())

    def detail(self) -> dict:
        """The named metrics of each use that has samples."""
        s, m = self.samples, {}
        if s["build_iteration"]:
            g = self.g
            m["build_keys_per_s"] = (g.n_keys * len(KINDS) / median(s["build_iteration"]), "keys/s")
            for kind in KINDS:
                m[f"fpr.{kind}"] = (self.fp[kind] / g.absent_total, "ratio")
            for kind in KINDS:
                m[f"bits_per_key.{kind}"] = (self.blob_bytes[kind] * 8 / g.n_keys, "bits")
        if s["join"]:
            m["join_s"] = (median(s["join"]), "s")
            m["antijoin_s"] = (median(s["antijoin"]), "s")
        if s["lookup"]:
            m["index_build_s"] = (median(s["index_build"]), "s")
            m["lookup_ms_p50"] = (median(s["lookup"]) * 1e3, "ms")
            m["lookup_ms_p90"] = (pct(s["lookup"], 90) * 1e3, "ms")
        return m


# -- session and set-up ----------------------------------------------------------


def start_session(work: str, extra: dict | None = None):
    from bitfilters_spark.session import make_session

    # keep every file the JVM writes inside the work directory: its temp
    # files (native libraries it unpacks) and no hsperfdata under /tmp. Its
    # JIT compiler threads all start with it and none exits, so that
    # spans.tree_cpu_s can leave their CPU time out; its heap has a fixed
    # size, so that the CPU a run spends growing it does not vary by run.
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                         "-XX:-UseDynamicNumberOfCompilerThreads -Xms2g",
        "spark.ui.showConsoleProgress": "false",
        **(extra or {}),
    }
    spark = make_session(
        app="perfbench", cpus=len(os.sched_getaffinity(0)),
        driver_memory="2g", extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark) -> None:
    """One probe of an empty filter: starts the Python workers, which import
    the package, and fails fast if they cannot."""
    import numpy as np
    from bitfilters_spark.core.bloom import duckdb_bloom_serialize
    from bitfilters_spark.functions.filters import probe_filter
    from bitfilters_spark.functions.hashing import spark_hash64

    empty = duckdb_bloom_serialize(np.zeros(64, dtype=np.uint64))
    df = spark.range(0, 4096, numPartitions=4).withColumn("h", spark_hash64("id"))
    hits = probe_filter(df, {(): empty}, "h").where("__contains").count()
    if hits:
        raise RuntimeError(f"warm-up: an empty filter matched {hits} keys")


def generate(work: str, seed: int, scale: str, parts) -> dict:
    from workload import group_inputs, join_inputs, table_inputs

    make = {"g": group_inputs, "j": join_inputs, "t": table_inputs}
    out = {}
    for p in parts:
        root = os.path.join(work, "inputs", p)
        shutil.rmtree(root, ignore_errors=True)
        out[p] = make[p](root, seed, scale)
    return out


def own_parts(workload: str) -> str:
    return "g" if workload == "group_build" else "jt"


def other(workload: str) -> str:
    return next(w for w in WORKLOADS if w != workload)


def setup(work, args, spark, parts):
    """Session start + input generation + warm-up. Returns (spark, inputs,
    seconds, session start seconds)."""
    t0 = now()
    if spark is not None:
        spark.stop()
    spark = start_session(work)
    session_s = now() - t0
    inputs = generate(work, args.seed, args.scale, parts)
    warm_up(spark)
    return spark, inputs, now() - t0, session_s


# -- traced run --------------------------------------------------------------------


def core_layer(spark, path: str, reps: int = 3) -> dict:
    """ns/key of the numpy build and probe kernels, called directly on one
    thread with the workload's own xxhash64 key hashes: members for the
    build, half members and half non-members for the probe."""
    import numpy as np
    from bitfilters_spark.core import bloom as B, quotient as Q, xor as X
    from bitfilters_spark.functions.hashing import spark_hash64
    from workload import next_pow2

    t = spark.read.parquet(path).select(spark_hash64("k").alias("h")).limit(1 << 18).toArrow()
    members = t.column(0).to_numpy().astype(np.int64).view(np.uint64)
    n = len(members)
    absent = np.random.default_rng(0).integers(0, 2**63, n // 2, dtype=np.int64).view(np.uint64)
    probe_h = np.concatenate([members[: n - len(absent)], absent])
    sectors, qbits = next_pow2(n / 8), max(1, int(np.ceil(np.log2(n))))
    bloom_k = B.bloom_params(n, 0.01)[1]
    kernels = {
        "duckdb_bloom": (lambda h: B.duckdb_bloom_serialize(B.duckdb_bloom_build(h, sectors)),
                         B.duckdb_bloom_probe),
        "xor8": (lambda h: X.xor_build(h, 8), X.xor_probe),
        "quotient": (lambda h: Q.qf_build(h, qbits, 6), Q.qf_probe),
        "bloom": (lambda h: B.bloom_serialize(B.bloom_build(h, n, 0.01), bloom_k), B.bloom_probe),
    }
    out = {}
    for kind, (build, probe) in kernels.items():
        times = []
        for _ in range(reps):
            t0 = now()
            blob = build(members)
            times.append(now() - t0)
        out[f"core.build_ns_per_key.{kind}"] = (median(times) / n * 1e9, "ns/key")
        times = []
        for _ in range(reps):
            t0 = now()
            hit = probe(blob, probe_h)
            times.append(now() - t0)
        if not hit[: n - len(absent)].all():
            raise RuntimeError(f"core {kind}: false negative")
        out[f"core.probe_ns_per_key.{kind}"] = (median(times) / len(probe_h) * 1e9, "ns/key")
    return out


def spark_reference(b: Bench, reps: int = 3) -> dict:
    """Spark's own inner join and left_anti on the same inputs: the bar the
    prefiltered plans must beat."""
    fact, dim = b.fact, b.dim_kept
    for _ in range(reps):
        b.op("spark.exact_join",
             lambda: fact.join(dim, fact.fk == dim.dk).groupBy("attr").count().collect(),
             b._check_join)
        b.op("spark.exact_antijoin",
             lambda: fact.join(dim, fact.fk == dim.dk, "left_anti").count(),
             b._check_anti)
    return {
        "spark.exact_join_s": (median(b.samples["spark.exact_join"]), "s"),
        "spark.exact_antijoin_s": (median(b.samples["spark.exact_antijoin"]), "s"),
    }


def traced(b: Bench, fn):
    """Run ``fn()`` with the package's inner public calls wrapped in spans:
    ``probe_filter`` inside the join plans, and the lookup's
    ``key_hashes`` and ``prune_files``. The prefiltered join's probe is also
    observed, to count the rows it keeps."""
    from unittest import mock

    from bitfilters_spark.plans import filter_join
    from bitfilters_spark.sources import skipping
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    t, plain = b.tracer, filter_join.probe_filter

    def probe_filter(df, filters, hash_col, *a, **kw):
        # only the prefiltered join is observed: the anti-join probes one
        # DataFrame twice, and a plan may observe one name once
        join = t.innermost() == "join.construct"
        with t.span("functions.probe_filter"):
            probed = plain(df, filters, hash_col, *a, **kw)
        if not join:
            return probed
        obs = Observation(f"survivors{len(b.survivors)}")
        b.survivors.append(obs)
        kept = F.col(kw.get("result_col", "__contains")).cast("long")
        return probed.observe(obs, F.count(F.lit(1)).alias("rows"), F.sum(kept).alias("hits"))

    t0 = now()
    try:
        with mock.patch.object(filter_join, "probe_filter", probe_filter), \
                mock.patch.object(skipping, "key_hashes",
                                  t.spanned("sources.key_hashes", skipping.key_hashes)), \
                mock.patch.object(skipping, "prune_files",
                                  t.spanned("sources.prune_files", skipping.prune_files)):
            return fn()
    finally:
        b.traced_wall += now() - t0


def per_layer(plain: Bench, b: Bench, workload: str, counters: dict, unattributed: int) -> dict:
    """The per-layer metrics of a traced run. The untraced side ``plain``
    ran only ``workload``: its wall times, and the named metrics of its
    use, come from there. The traced side ``b`` gives the rest."""
    t = b.tracer
    if plain.failed or b.failed:
        raise RuntimeError(f"traced run: {plain.failed + b.failed} of "
                           f"{plain.attempted + b.attempted} operations failed")

    def med(name):
        return median([s.seconds for s in t.named(name)])

    m = {f"{role}_s": (plain.role_sum(workload, role), "s") for role in ("build", "query")}
    m.update(b.detail())
    m.update(plain.detail())
    m.update({f"functions.build_filter.{k}.s": (med(f"build.{k}"), "s") for k in KINDS})
    m["functions.probe_filter.construct_s"] = (med("functions.probe_filter"), "s")
    m.update({
        "plans.prefiltered_join.construct_s": (med("join.construct"), "s"),
        "plans.prefiltered_join.execute_s": (med("join.execute"), "s"),
        "plans.antijoin.construct_s": (med("antijoin.construct"), "s"),
        "plans.antijoin.execute_s": (med("antijoin.execute"), "s"),
    })
    obs = [o.get for o in b.survivors]
    hits = sum(o["hits"] for o in obs)
    m["plans.survivor_ratio"] = (hits / sum(o["rows"] for o in obs), "ratio")
    m["plans.useful_ratio"] = (b.j.matches * len(obs) / hits, "ratio")

    # a lookup's self time, less the key hashing and pruning it calls, is
    # the scan it plans and runs
    inner = defaultdict(float)
    for s in t.spans:
        if s.name in ("sources.key_hashes", "sources.prune_files"):
            inner[s.parent] += s.seconds
    lookups = t.named("lookup")
    prunes = t.named("sources.prune_files")
    read = sum(len(s.value) for s in prunes)
    useful = sum(len(b.t.hit_files[i % len(b.t.lookups)]) for i in range(len(prunes)))
    m.update({
        "sources.build_file_index.s": (med("index_build"), "s"),
        "sources.key_hashes.ms": (med("sources.key_hashes") * 1e3, "ms"),
        "sources.prune_files.ms": (med("sources.prune_files") * 1e3, "ms"),
        "sources.read.ms": (median([s.seconds - inner[s.id] for s in lookups]) * 1e3, "ms"),
        "sources.files_read_ratio": (read / (len(prunes) * b.t.files), "ratio"),
        "sources.useful_file_ratio": (useful / read, "ratio"),
    })
    for name in COUNTED_SPANS:
        for c, v in counters[name].items():
            unit = next(u for sfx, u in COUNTER_UNITS.items() if c.endswith(sfx))
            m[f"{name}.{c}"] = (v, unit)
    m["unattributed_jobs"] = (unattributed, "count")
    return m


# -- main ----------------------------------------------------------------------------


def stop(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits at the end of its stdin
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def fmt(metrics: dict) -> str:
    return "\n".join(f"{k} {v:.6g} {u}" for k, (v, u) in metrics.items())


def measure(args, work: str):
    """One run. Returns (metrics, attempted, failed, notes).

    Untraced, the run sets up ``SETUPS`` times and reports the median set-up
    time, then runs the workload's rounds. Traced, it sets up once and runs
    the workload's rounds untraced, with lookups, if the workload makes
    any, up to ``LOOKUP_SAMPLES``. It then restarts the session with the
    event log on and runs the rounds traced, so that the overhead it reports
    includes the event log's, and then one traced round of the other
    workload, so that every layer has numbers."""
    from spans import Tracer, cpu_times, event_log_conf, fold_event_log, steal_share

    cpu0 = cpu_times()
    spark = None
    try:
        if not args.trace:
            setup_times = []
            for _ in range(SETUPS):
                spark, inputs, dt, _ = setup(work, args, spark, own_parts(args.workload))
                setup_times.append(dt)
            b = Bench(spark)
            b.load(**inputs)
            b.warm(args.workload)
            b.run(args.workload, max(MIN_ROUNDS, round(args.seconds / ROUND_S[args.workload])))
            attempted, failed = b.attempted, b.failed
            metrics = {
                "setup_s": (median(setup_times), "s"),
                "build_cpu_s": (b.role_sum(args.workload, "build", cpu=True), "s"),
                "query_cpu_s": (b.role_sum(args.workload, "query", cpu=True), "s"),
            }
            notes = {
                "setup_s samples": [round(x, 3) for x in setup_times],
                "wall build_s, query_s": [round(b.role_sum(args.workload, r), 4)
                                          for r in ("build", "query")],
                "samples": {k: len(v) for k, v in b.samples.items()},
                "detail": "\n" + "\n".join("# " + ln for ln in fmt(b.detail()).splitlines()),
            }
        else:
            rounds = max(MIN_TRACED_ROUNDS, round(args.seconds / 2 / ROUND_S[args.workload]))
            spark, inputs, _, session_s = setup(work, args, spark, "gjt")
            b = Bench(spark)
            b.load(**inputs)
            b.warm(args.workload)
            b.run(args.workload, rounds)
            while len(b.samples["lookup"]) < LOOKUP_SAMPLES and b.index is not None and b.failed <= 10:
                b.lookup()

            log_dir = os.path.join(work, "eventlog")
            spark.stop()
            spark = start_session(work, event_log_conf(log_dir))
            warm_up(spark)
            # no warm round: the traced side runs on the JVM the untraced side warmed
            tb = Bench(spark, Tracer(spark.sparkContext))
            tb.load(**inputs)
            traced(tb, lambda: tb.run(args.workload, rounds))
            roles = ("build", "query")
            metrics = {
                "session.start_s": (session_s, "s"),
                "trace.overhead_ratio": (
                    sum(tb.role_sum(args.workload, r) for r in roles)
                    / sum(b.role_sum(args.workload, r) for r in roles) - 1, "ratio"),
                "trace.span_coverage": (
                    sum(s.seconds for s in tb.tracer.spans if s.parent is None) / tb.traced_wall,
                    "ratio"),
            }
            traced(tb, lambda: tb.round(other(args.workload)))
            notes = {"untraced samples": {k: len(v) for k, v in b.samples.items()},
                     "traced samples": {k: len(v) for k, v in tb.samples.items()}}
            metrics.update(spark_reference(tb))
            own_keys = inputs["g"].keys_path if args.workload == "group_build" else inputs["t"].path
            metrics.update(core_layer(spark, own_keys))
            spark.stop()
            counters, unattributed = fold_event_log(log_dir, tb.tracer, COUNTED_SPANS)
            metrics.update(per_layer(b, tb, args.workload, counters, unattributed))
            attempted, failed = b.attempted + tb.attempted, b.failed + tb.failed
        steal = steal_share(cpu0, cpu_times())
        if args.trace:
            metrics["host.steal_share"] = (steal, "ratio")
        notes["host steal share"] = round(steal, 4)
        notes["error_rate"] = f"{failed / max(attempted, 1):.4g} ({failed} of {attempted} operations)"
        return metrics, attempted, failed, notes
    finally:
        stop(spark)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="full", choices=("full", "tiny"),
                    help="input size; tiny is for the self-test")
    args = ap.parse_args(argv)

    # Spark's Python workers find the package through the PYTHONPATH the JVM
    # inherits, so it must name the repository root before the JVM starts.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    try:
        import bitfilters_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import bitfilters_spark from {ROOT}: {e}", file=sys.stderr)
        return 2

    # one directory per process, so that runs in one checkout never share one
    work = os.path.join(HERE, "_work", str(os.getpid()))
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")  # Python's, and the workers'
    try:
        metrics, attempted, failed, notes = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # another run may still use it
            os.rmdir(os.path.dirname(work))
    print(fmt(metrics))
    for k, v in notes.items():
        print(f"# {k}: {v}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
