"""Fixed CPU cost of one Python-worker task, split by process.

Runs a trivial ``mapInArrow`` (every batch passed through unchanged) over
1, 4, 16 and 64 partitions of a few rows each on a ``make_session`` session
and prints, per partition count, the median CPU seconds of

- the driver (this Python process),
- Spark's JVM, its JIT compiler threads left out (they compile in the
  background, at moments that differ from run to run; the JVM runs with
  a fixed number of them, started with it, so that none exits and takes
  its CPU time out of the sum they are subtracted from),
- the Python workers: the worker daemon and every worker it forked,
  reaped ones included.

CPU is read from ``/proc`` for this process and the processes below it
only, so other programs on the host do not count; time the hypervisor
stole is not in it. The rows are too few to cost anything, so the worker
CPU is the per-task fixed cost times the task count. The session gets
every CPU this process may run on. Usage:

    python tools/worker_task_cost.py

Prints a table, then one JSON line with the same numbers.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

JIT_THREADS = ("C1 Compiler", "C2 Compiler")
PARTITIONS = (1, 4, 16, 64)
REPEATS = 5
ROWS = 1000  # per partition


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:  # the process or thread has exited
        return None


def _fields(stat: str) -> list[str]:
    """The fields of a /proc stat line after "(comm)": state ppid ..."""
    return stat[stat.rindex(")") + 2:].split()


def _jit_ticks(pid: int) -> int:
    total = 0
    task = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task)
    except OSError:
        return 0
    for tid in tids:
        comm = _read(f"{task}/{tid}/comm")
        stat = _read(f"{task}/{tid}/stat")
        if comm and stat and comm.startswith(JIT_THREADS):
            total += sum(int(x) for x in _fields(stat)[11:13])
    return total


def role_cpu_s() -> dict:
    """CPU seconds so far of the driver, the JVM and the Python workers."""
    procs = {}
    for d in os.listdir("/proc"):
        stat = _read(f"/proc/{d}/stat") if d.isdigit() else None
        if stat:
            procs[int(d)] = (stat[stat.index("(") + 1:stat.rindex(")")], _fields(stat))
    children: dict = {}
    for pid, (_, f) in procs.items():
        children.setdefault(int(f[1]), []).append(pid)
    me = os.getpid()
    ticks = {"driver": sum(int(x) for x in procs[me][1][11:13]), "jvm": 0, "python": 0}
    todo = list(children.get(me, ()))
    while todo:
        pid = todo.pop()
        comm, f = procs[pid]
        if comm == "java":
            ticks["jvm"] += sum(int(x) for x in f[11:13]) - _jit_ticks(pid)
        else:  # workers the daemon reaped are in its cutime/cstime
            ticks["python"] += sum(int(x) for x in f[11:15])
        todo.extend(children.get(pid, ()))
    hz = os.sysconf("SC_CLK_TCK")
    return {k: v / hz for k, v in ticks.items()}


def main() -> None:
    from bitfilters_spark.session import make_session

    cpus = len(os.sched_getaffinity(0))
    spark = make_session(app="worker-task-cost", cpus=cpus, extra_conf={
        "spark.driver.extraJavaOptions": "-XX:-UseDynamicNumberOfCompilerThreads",
        "spark.ui.showConsoleProgress": "false",
    })

    def passthrough(batches):
        yield from batches

    def run(n: int) -> None:
        df = spark.range(0, n * ROWS, 1, n)
        df.mapInArrow(passthrough, df.schema).write.format("noop").mode("overwrite").save()

    run(cpus)  # starts the workers; untimed
    result = {}
    print(f"{'tasks':>6} {'wall_s':>8} {'driver_s':>9} {'jvm_s':>8} {'python_s':>9} {'python_ms/task':>15}")
    for n in PARTITIONS:
        samples = []
        for _ in range(REPEATS):
            before, t0 = role_cpu_s(), time.perf_counter()
            run(n)
            wall, after = time.perf_counter() - t0, role_cpu_s()
            samples.append({"wall": wall, **{k: after[k] - before[k] for k in after}})
        med = {k: statistics.median(s[k] for s in samples) for k in samples[0]}
        result[n] = {k: round(v, 3) for k, v in med.items()}
        print(f"{n:>6} {med['wall']:>8.3f} {med['driver']:>9.3f} {med['jvm']:>8.3f} "
              f"{med['python']:>9.3f} {med['python'] / n * 1e3:>15.1f}")
    spark.stop()
    print(json.dumps({"cpus": cpus, "rows_per_task": ROWS,
                      "repeats": REPEATS, "median_s": result}))


if __name__ == "__main__":
    main()
