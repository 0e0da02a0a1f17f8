"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository: the engine
(``orca_spark/``) must sit beside ``perfbench/``. Everything the run
writes stays under ``.perfbench/`` and ``.scratch/`` in the checkout.

One run:

1. sets up twice, each time as a new user does: launch a JVM
   and start a SparkSession on ``local[N]`` (N = min(4, cores)),
   generate the seed's corpus and rows, and import the query registry
   afresh; ``setup_s`` is the median set-up, with the host's CPU steal
   taken out;
2. runs passes for ``--seconds`` seconds and at least three past the
   workload's warm-up passes, each over the seed's row permutation of
   the corpus under a new path; the first pass is the cold one,
   ``pass_s`` the median of the three passes after warm-up, both with
   the host's CPU steal taken out (raw walls: see README);
3. checks every query result against its DuckDB oracle, the ORC
   operations' read-back once, and that each query ran the same number
   of construction jobs in every pass (a memo serving a later pass
   would change that count).

With ``--trace 1`` every other warm pass runs traced (engine calls
wrapped, streaming listener on, Python worker CPU sampled) and the
run prints the per-layer metrics instead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SETUPS = 2  # each launches a JVM (about 7 s on a 4-core host); a run must stay near a minute
TIMED_PASSES = 3  # pass_s is their median
# A pass during which the host withheld a share s of the CPU time it
# demanded took about (1 - s) ** -PASS_STEAL_EXP times its quiet wall;
# fitted on the passes of 19 driver_loops runs on a shared 4-core host
# and checked on ten runs of each workload (README: "Host CPU steal").
# A set-up runs mostly on one thread: wall * (1 - s).
PASS_STEAL_EXP = 1.5
MAX_CORES = 4
SPARK_MEMORY = "3g"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Point every temporary and local directory of Python, the JVM and
    Spark into ``work``; must run before pyspark is imported."""
    for sub in ("tmp", "local", "cwd"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    cores = min(MAX_CORES, os.cpu_count() or 1)
    os.environ.update(
        {
            "TZ": "UTC",
            "TMPDIR": os.path.join(work, "tmp"),
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_GRAFT_DRIVER_MEM": SPARK_MEMORY,
        }
    )
    time.tzset()
    os.chdir(os.path.join(work, "cwd"))  # spark-warehouse and friends land here


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


class Run:
    def __init__(self, args, work: str):
        from perfbench.trace import Tracer
        from perfbench.workloads import WORKLOADS

        self.args = args
        self.work = work
        self.seed = args.seed
        self.workload = WORKLOADS[args.workload]()
        warm_up = self.workload.warm_up_passes
        self.timed = slice(warm_up, warm_up + TIMED_PASSES)
        self.tracer = Tracer()
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.spark = None
        self.setups: list[dict] = []
        self.passes = []
        self.failures: list[str] = []

    # -- set-up -----------------------------------------------------------
    def setup(self) -> None:
        from perfbench.corpus import Corpus
        from perfbench.jvmstats import host_cpu_ticks, steal_frac

        teardown(self.spark)  # every set-up launches its own JVM
        self.spark = None
        for name in [m for m in sys.modules if m == "orca_spark" or m.startswith("orca_spark.")]:
            del sys.modules[name]
        ticks = host_cpu_ticks()
        t0 = time.perf_counter()
        from orca_spark.session import get_spark

        spark = get_spark("perfbench")
        t1 = time.perf_counter()
        self.corpus = Corpus.generate(self.seed, self.workload.corpus_sf)
        self.spark = spark  # prepare() may read the session
        self.workload.prepare(self)
        t2 = time.perf_counter()
        from orca_spark.queries import queries

        self.queries = queries()
        t3 = time.perf_counter()
        self.setups.append(
            {
                "session_s": t1 - t0,
                "gen_s": t2 - t1,
                "total_s": t3 - t0,
                "steal": steal_frac(ticks, host_cpu_ticks()),
            }
        )

    def attach(self) -> None:
        """Probes of the final session."""
        import logging

        from perfbench.jvmstats import StatusStore, jvm_pid

        self.spark.sparkContext.setLogLevel("ERROR")
        # the known-defect write logs a full JVM stack per pass
        logging.getLogger("DataFrameQueryContextLogger").setLevel(logging.CRITICAL)
        self.store = StatusStore(self.spark)
        self.jvm = jvm_pid(self.spark)

    # -- passes -----------------------------------------------------------
    def run_passes(self) -> None:
        from perfbench.corpus import link_copy
        from perfbench.jvmstats import host_cpu_ticks, python_worker_cpu_s, steal_frac
        from perfbench.layers import PassRecord
        from perfbench.trace import Instrumentation, StreamListener

        tables = sys.modules["orca_spark.tables"]
        instr = Instrumentation(self.tracer, self.queries) if self.args.trace else None
        self.corpus_dir = self.corpus.write_copy(
            os.path.join(self.work, "corpus", f"pb{self.seed}"), perm_seed=self.seed
        )
        begin = time.perf_counter()
        p = 0
        while True:
            traced = bool(self.args.trace) and p % 2 == 1
            tag = f"pb{self.seed}p{p}"
            corpus_dir = link_copy(self.corpus_dir, os.path.join(self.work, "corpus", tag))
            out_dir = os.path.join(self.work, "out", tag)
            listener = None
            if traced:
                listener = StreamListener()
                self.spark.streams.addListener(listener)
                instr.install()
                cpu0 = python_worker_cpu_s(self.jvm)
            mark = self.tracer.mark()
            start = time.time()
            ticks = host_cpu_ticks()
            with self.tracer.span("pass", index=p, traced=traced) as sp:
                with self.tracer.span("tables.load"):
                    for t in tables.TABLES:
                        tables.load(self.spark, corpus_dir, t)
                ops = self.workload.run_pass(self, corpus_dir, out_dir)
            rec = PassRecord(p, traced, sp.dur, ops, self.tracer.since(mark), mark, [], [])
            rec.steal = steal_frac(ticks, host_cpu_ticks())
            if traced:
                instr.uninstall()
                rec.py_cpu_s = python_worker_cpu_s(self.jvm) - cpu0
                rec.streams = self._stream_progress(listener, rec)
                self.spark.streams.removeListener(listener)
            # status-store times are epoch milliseconds
            lo, hi = start * 1000.0 - 1.0, (start + sp.dur) * 1000.0 + 1.0
            rec.jobs = [j for j in self.store.jobs() if lo <= (j.get("submissionTime") or 0) <= hi]
            rec.stages = [s for s in self.store.stages() if lo <= (s.get("submissionTime") or 0) <= hi]
            if p == 0:
                by_name = {r.name: r for r in ops}
                for name, why in self.workload.check_once(self, ops):
                    by_name[name].error = f"wrong result: {why}"
                    self.failures.append(f"pass 0 {name}: {why}")
            if traced:
                from perfbench.layers import pass_metrics

                rec.metrics = pass_metrics(rec, self.cores, self.all_queries())
            self.passes.append(rec)
            shutil.rmtree(corpus_dir, ignore_errors=True)
            shutil.rmtree(out_dir, ignore_errors=True)
            scratch = os.path.join(ROOT, ".scratch")
            for name in os.listdir(scratch) if os.path.isdir(scratch) else ():
                if name.endswith("_" + tag):
                    shutil.rmtree(os.path.join(scratch, name), ignore_errors=True)
            p += 1
            enough = p >= 3 if self.args.trace else p >= self.timed.stop
            if enough and time.perf_counter() - begin >= self.args.seconds:
                break

    def _stream_progress(self, listener, rec) -> dict[str, list[dict]]:
        """Progress of the streaming runs each query started, read once
        their termination events have arrived. Start events fire inside
        ``start()``, so a run belongs to the query whose construction
        window holds its start."""
        from perfbench.layers import PassView

        if not listener.wait_terminated([rid for rid, _ in listener.started]):
            self.failures.append(f"pass {rec.index}: streaming termination events missing")
        view = PassView(rec)
        out = {}
        for r in rec.ops:
            sp = view.phase(r.name, "construct") if r.kind == "query" else None
            if sp is None:
                continue
            ids = [rid for rid, t in listener.started if sp.start <= t <= sp.end]
            if ids:
                out[r.name] = [p for rid in ids for p in listener.progress.get(rid, [])]
        return out

    def all_queries(self) -> tuple[str, ...]:
        from perfbench.workloads import WORKLOADS

        return tuple(q for w in WORKLOADS.values() for q in w.queries)

    # -- checks -----------------------------------------------------------
    def check(self) -> None:
        from perfbench.check import compare, oracle_results
        from perfbench.layers import PassView, construct_jobs
        from orca_spark.queries import oracle_sql

        sql = oracle_sql()
        want = oracle_results(self.corpus_dir, list(self.corpus.tables), {q: sql[q] for q in self.workload.queries})
        for rec in self.passes:
            for r in rec.ops:
                if r.kind == "query" and r.ok:
                    why = compare(r.out, want[r.name])
                    if why:
                        r.error = f"wrong result: {why}"
                        self.failures.append(f"pass {rec.index} {r.name}: {why}")
        counts = [construct_jobs(PassView(rec)) for rec in self.passes]
        for rec, c in zip(self.passes[1:], counts[1:]):
            for q, n in c.items():
                if q in counts[0] and n != counts[0][q]:
                    self.failures.append(
                        f"memo check: {q} ran {n} construction jobs in pass "
                        f"{rec.index}, {counts[0][q]} in pass 0"
                    )
        self.construct_counts = counts

    # -- report -----------------------------------------------------------
    def result(self) -> dict:
        ops = [r for rec in self.passes for r in rec.ops]
        unexpected = [r for r in ops if not r.ok and not r.known_defect]
        med = statistics.median
        warm = [rec for rec in self.passes[1:] if not rec.traced]
        if self.args.trace:
            traced = [rec.metrics for rec in self.passes if rec.traced]
            values = {k: med([m[k] for m in traced]) for k in traced[0]}
            values["session.start_s"] = med([s["session_s"] for s in self.setups])
            values["bench.gen_s"] = med([s["gen_s"] for s in self.setups])
            values["pass_wall_s"] = med([rec.wall for rec in warm])
            values["first_pass_wall_s"] = self.passes[0].wall
            values["trace.overhead_frac"] = (
                med([unstolen(rec) for rec in self.passes if rec.traced])
                / med([unstolen(rec) for rec in warm])
                - 1.0
            )
            metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(values.items())}
        else:
            metrics = {
                "setup_s": {
                    "value": med([s["total_s"] * (1.0 - s["steal"]) for s in self.setups]),
                    "unit": "s",
                },
                "pass_s": {"value": med([unstolen(rec) for rec in self.passes[self.timed]]), "unit": "s"},
                "first_pass_s": {"value": unstolen(self.passes[0]), "unit": "s"},
                "ops_ok_frac": {
                    "value": sum(1 for r in ops if r.ok) / len(ops),
                    "unit": "fraction",
                },
                "retained_mb": {"value": self._retained_mb(), "unit": "MiB"},
            }
        return {
            "correct": not self.failures and not unexpected,
            "attempted": len(ops),
            "failed": len(unexpected),
            "metrics": metrics,
        }

    def _retained_mb(self) -> float:
        """Memory the run holds on to: JVM heap live after a full GC, JVM
        non-heap (code cache, metaspace, class data) and the Python
        driver's peak resident set. The JVM's own peak resident set is
        left out: it follows garbage-collector timing, not the work."""
        from perfbench.jvmstats import peak_rss_mb

        jvm = self.spark._jvm
        jvm.java.lang.System.gc()
        mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        used = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
        return used / 2**20 + peak_rss_mb(os.getpid())

    def report(self, out) -> None:
        """Human-readable summary: passes, failures, per-query split."""
        walls = [round(rec.wall, 3) for rec in self.passes]
        steal = [round(rec.steal, 3) for rec in self.passes]
        warm = [unstolen(rec) for rec in self.passes[self.timed] if not rec.traced]
        timed = f"passes {self.timed.start}-{self.timed.stop - 1} untraced without steal n={len(warm)}"
        if warm:  # a traced run may end before them
            timed += " q1={:.3f} median={:.3f} q3={:.3f} s".format(*quartiles(warm))
        print(
            f"perfbench {self.args.workload} seed={self.seed}: {len(walls)} passes, "
            f"wall {walls} s, host steal {steal}; {timed}; "
            f"set-ups {[round(s['total_s'], 3) for s in self.setups]} s, "
            f"host steal {[round(s['steal'], 3) for s in self.setups]}",
            file=out,
        )
        names = [r.name for r in self.passes[0].ops]
        per_op = [
            f"{n}={statistics.median(rec.ops[i].wall for rec in self.passes[1:]):.2f}"
            for i, n in enumerate(names)
        ]
        print("  warm median per operation (s): " + " ".join(per_op), file=out)
        cold = [f"{r.name}={r.wall:.2f}" for r in self.passes[0].ops]
        print("  cold pass per operation (s): " + " ".join(cold), file=out)
        for f in self.failures:
            print(f"  FAIL {f}", file=out)
        known = [(rec.index, r) for rec in self.passes for r in rec.ops if r.known_defect]
        if known:
            print(f"  known defect in {len(known)} passes, {known[0][1].name}: {known[0][1].error[:160]}", file=out)
        traced = [rec for rec in self.passes if rec.traced]
        if traced:
            m = traced[0].metrics
            print(f"  per-query split of traced pass {traced[0].index} (seconds, jobs):", file=out)
            for q in self.workload.queries:
                line = "    {:<34} construct {:7.3f} ({:3.0f} jobs)  plan {:6.3f}  exec {:6.3f}".format(
                    q, m[f"{q}.construct_s"], m[f"{q}.construct_jobs"], m[f"{q}.plan_s"], m[f"{q}.exec_s"]
                )
                if f"{q}.trigger_s" in m:
                    line += f"  stream triggers {m[q + '.trigger_s']:.3f}"
                print(line, file=out)


def unstolen(rec) -> float:
    """Wall time of a pass with the host's CPU steal taken out: what it
    would have taken had the hypervisor withheld no CPU time."""
    return rec.wall * (1.0 - rec.steal) ** PASS_STEAL_EXP


def unit_of(name: str) -> str:
    if name.endswith("_frac"):
        return "fraction"
    if name.endswith("_per_s"):
        return "rows/s"
    if name.endswith(("_per_input_byte", "_per_result_row")):
        return "ratio"
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes") or name.endswith("bytes_written"):
        return "bytes"
    return "count"


def teardown(spark) -> None:
    """Stop the session and the JVM this process launched, and wait for
    it (the JVM exits when its stdin closes; its Python workers follow).
    The next session then launches a new JVM."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "orca_spark", "queries.py")):
        print("perfbench: no orca_spark/ beside perfbench/; run from a repository checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(work)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    run = Run(args, work)
    try:
        for _ in range(SETUPS):
            run.setup()
        run.attach()
        run.run_passes()
        run.check()
        result = run.result()
        run.report(sys.stderr)
    finally:
        teardown(run.spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
