"""Crawl-cycle benchmark for nutch_spark.

    python3 perfbench/run.py --workload crawl_steady --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20 --trace 0

A run builds the synthetic web for its seed, materializes it to parquet
(the engine only ever reads those files), and crawls it on
``local[<cpus>]`` from this one driver process.

``--trace 0`` drives the production path (``Crawler.inject`` +
``Crawler.run_cycle`` with segment commits) and reports the end-to-end
metrics. ``--trace 1`` runs that same path and, interleaved with it on a
second catalog, the traced replay of ``perfbench/passes.py`` with the
Spark event log on; it reports per-layer metrics from the job-group
ledger (``perfbench/ledger.py``) and the ``/proc`` sampler.

Both modes check the crawl's output; any failed check or operation makes
``correct`` false and the exit code 1. The last line of stdout is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``.
Everything the run writes lives under ``.perfbench_work/`` in the
checkout and is removed at exit. perfbench/README.md describes the
workloads, every metric and which layer moves which end-to-end metric.
"""

from __future__ import annotations

import argparse
import fcntl
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

START_MS = 1_704_000_000_000
CYCLE_MS = 3_600_000  # one crawl cycle per simulated hour
DAY_MS = 86_400_000
DRIVER_MEMORY = "2g"  # well below the RAM of a small shared box
# re-injects into a committed CrawlDb are timed this many times, rolled
# back in between; one ~4 s inject on a fresh JVM is too noisy alone
INJECT_SAMPLES = 3


@dataclass(frozen=True)
class Workload:
    """Input sizes of one workload; why each exists is in BENCHMARK.json."""

    n_docs: int
    seeds_per_host: int  # 0: every doc of the web is a seed
    base_half: bool  # start from a committed CrawlDb holding half the seeds
    top_n: int
    nominal_cycle_s: float  # --seconds / this = measured cycles
    merge: str  # the updatedb path the workload must take: "full" or "split"

    @property
    def n_hosts(self) -> int:
        return max(100, self.n_docs // 50)


WORKLOADS = {
    "crawl_steady": Workload(
        n_docs=12_000, seeds_per_host=15, base_half=False, top_n=2_500,
        nominal_cycle_s=20.0, merge="full",
    ),
    "big_frontier": Workload(
        n_docs=20_000, seeds_per_host=0, base_half=True, top_n=600,
        nominal_cycle_s=25.0, merge="split",
    ),
}

# (name, unit); the per-layer block below applies to each of LAYERS
END_TO_END = [
    ("setup_s", "s"), ("inject_s", "s"), ("cycle_s", "s"),
    ("urls_per_s", "1/s"), ("peak_rss_mb", "MB"),
]
LAYERS = ("inject", "generate", "fetchsim", "parse", "updatedb", "catalog")
LAYER_BLOCK = [
    ("wall_s", "s"), ("task_s", "s"), ("cpu_s", "s"), ("proc_cpu_s", "s"), ("gc_s", "s"),
    ("util", "ratio"), ("task_skew", "ratio"),
    ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"), ("spill_mb", "MB"),
    ("input_mb", "MB"), ("output_mb", "MB"),
    ("rows_in", "count"), ("rows_out", "count"), ("jobs", "count"), ("tasks", "count"),
]
LAYER_EXTRA = [
    ("session.start_s", "s"), ("frontier.materialize_s", "s"),
    ("generate.select_ratio", "ratio"), ("fetchsim.fetched_ratio", "ratio"),
    ("fetchsim.virtual_makespan_s", "s"), ("parse.outlinks_per_page", "ratio"),
    ("updatedb.touched_ratio", "ratio"), ("updatedb.rows_added", "count"),
    ("catalog.snapshot_mb", "MB"), ("trace.cycle_s", "s"),
]
PER_LAYER = [(f"{layer}.{m}", u) for layer in LAYERS for m, u in LAYER_BLOCK] + LAYER_EXTRA


class Session:
    """One SparkSession whose scratch space, JVM and Python workers all
    live and die with this object."""

    def __init__(self, cores: int, event_dir: str | None):
        tmp = os.path.join(WORK, "tmp")
        os.makedirs(tmp)
        # Python UDF workers import nutch_spark from the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        os.environ["TMPDIR"] = tempfile.tempdir = tmp
        # every JVM the launch starts (spark-submit's launcher too) keeps
        # its temp files in the checkout and writes no /tmp/hsperfdata_*
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
        os.environ.pop("NUTCH_SPARK_EXTRA_CONF", None)
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(WORK, "local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if event_dir:
            os.makedirs(event_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            })
        from nutch_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                               shuffle_partitions=2 * cores, extra_conf=conf)
        self.start_s = time.perf_counter() - t0

    def stop(self) -> None:
        """Stop the context, then the JVM, and wait for both to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        from procmon import tree_pids

        deadline = time.monotonic() + 30
        while len(tree_pids(os.getpid())) > 1 and time.monotonic() < deadline:
            time.sleep(0.1)


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
               for f in os.listdir(path) if f.endswith(".parquet"))


def materialize_inputs(spark, wl: Workload, seed: int, dst: str):
    """Write the seed's web (docs, robots, outcomes, seed list) to parquet
    and return the read-back frames with their row counts."""
    from pyspark.sql import functions as F

    from nutch_spark.data.frontier import synth_docs, synth_outcomes, synth_robots, synth_seeds

    out = {}

    def put(name, df):
        path = os.path.join(dst, name)
        df.write.parquet(path)
        out[name] = spark.read.parquet(path)

    put("docs", synth_docs(spark, wl.n_docs, wl.n_hosts, seed))
    put("robots", synth_robots(spark, wl.n_hosts, seed))
    put("outcomes", synth_outcomes(out["docs"], wl.n_docs, wl.n_hosts, seed))
    put("seeds", synth_seeds(out["docs"], wl.seeds_per_host) if wl.seeds_per_host
        else out["docs"].select(F.col("doc_id").alias("value")))
    return out, {name: _parquet_rows(os.path.join(dst, name)) for name in out}


def _mark(report: dict, phase: str) -> None:
    """Record when ``phase`` ended, in seconds since the run started."""
    report["phase_s"][phase] = time.perf_counter() - report["phase_s"]["start"]


class Ops:
    """Counts operations (one inject or one cycle) and their failures."""

    def __init__(self):
        self.attempted = 0
        self.raised = 0
        self.check_failures: list[str] = []

    def run(self, fn, *args):
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:
            self.raised += 1
            traceback.print_exc()
            raise

    @property
    def failed(self) -> int:
        return min(self.attempted, self.raised + len(self.check_failures))


def run_passes(sess, wl, seed, n_cycles, cfg, ops, report, trace: bool) -> dict:
    """Set up, crawl and check; return the run's raw results.

    The untraced pass is the production path: inject, then ``n_cycles``
    measured cycles, the first on a fresh JVM as in a one-shot
    ``bin/crawl``. With ``trace`` a traced pass over a second catalog
    runs interleaved with it, operation by operation and ahead of it,
    so that the traced pass's figures come from the same positions in
    the run as the untraced run's end-to-end figures."""
    from pyspark.sql import functions as F

    from nutch_spark.catalog import SnapshotCatalog
    from nutch_spark.operators.inject import inject_full
    from nutch_spark.pipeline.crawl_loop import CRAWLDB
    from passes import TracedPass, Tracer, UntracedPass, check_catalog, crawldb_hash

    spark = sess.spark
    tracer = Tracer(spark, enabled=trace)
    _mark(report, "session")
    # once per run: the set-up a user pays is the one on a fresh JVM
    # (README.md)
    with tracer.span("frontier") as rec:
        inputs, rows = materialize_inputs(spark, wl, seed, os.path.join(WORK, "inputs"))
    materialize_s = rec.wall_s
    report.update(input_rows=rows)
    base_s = 0.0
    base = base_snap = None
    if wl.base_half:
        # the starting CrawlDb: half of the seeds, injected a day earlier
        half = inputs["seeds"].filter(F.pmod(F.xxhash64("value", F.lit(seed)), F.lit(2)) == 0)
        base = inject_full(spark, None, half, cfg, START_MS - DAY_MS)

    def new_pass(name, traced=False):
        nonlocal base_s, base, base_snap
        catalog = SnapshotCatalog(os.path.join(WORK, name))
        if base is not None:
            with tracer.span(f"{name}.base") as rec:
                snap = catalog.commit(base, CRAWLDB, now_ms=START_MS - DAY_MS,
                                      lineage={"stage": "inject"})
                # a second pass copies the committed CrawlDb, not the
                # lineage; the read runs a schema job, so it is in the span
                base = catalog.read(spark, CRAWLDB)
            if name == "untraced":
                base_s = rec.wall_s
                base_snap = snap.snapshot_id
                rows["base_crawldb"] = sum(f["rows"] for f in snap.manifest)
        if traced:
            return TracedPass(spark, catalog, cfg, inputs, tracer, wl.top_n, name,
                              rows["seeds"], rows.get("base_crawldb", 0))
        return UntracedPass(spark, catalog, cfg, inputs, tracer, wl.top_n, name)

    def now(i):
        return START_MS + i * CYCLE_MS

    def inject(p):
        if p.name != "untraced" or base_snap is None:
            return ops.run(p.inject, inputs["seeds"], START_MS)
        samples = []
        for k in range(INJECT_SAMPLES):
            if k:
                p.catalog.rollback(CRAWLDB, base_snap)
            samples.append(ops.run(p.inject, inputs["seeds"], START_MS))
        return statistics.median(samples)

    passes = [new_pass("untraced")]
    _mark(report, "setup")
    if trace:
        passes.append(new_pass("traced", traced=True))
    cycles = [[] for _ in passes]
    # a traced pass goes first: its inject and cycles then sit where the
    # untraced run's measured ones do
    order = list(zip(passes, cycles))[::-1]
    injects = {p.name: inject(p) for p, _ in order}
    for i in range(1, n_cycles + 1):
        for p, done in order:
            done.append(ops.run(p.cycle, i, now(i)))
    _mark(report, "cycles")
    report.update(inject_s=injects, cycles=[c.__dict__ for c in cycles[-1]])

    fails = ops.check_failures
    with tracer.span("check"):
        for p, done in zip(passes, cycles):
            fails += [f"{p.name}: {f}" for f in check_catalog(spark, p.catalog, done, wl.top_n)]
        if trace:
            (u, t), (u_cycles, t_cycles) = passes, cycles
            for a, b in zip(u_cycles, t_cycles):
                if (a.generated, a.fetched, a.db_size) != (b.generated, b.fetched, b.db_size):
                    fails.append(f"c{a.cycle_id}: untraced (generated, fetched, db_size) "
                                 f"{(a.generated, a.fetched, a.db_size)} != traced "
                                 f"{(b.generated, b.fetched, b.db_size)}")
            hu = crawldb_hash(u.catalog.read(spark, CRAWLDB))
            ht = crawldb_hash(t.catalog.read(spark, CRAWLDB))
            report.update(crawldb_hash=str(ht))
            if hu != ht:
                fails.append(f"final CrawlDb hash untraced {hu} != traced {ht}")
            if not t.full_merge_matches():
                fails.append("last cycle: updatedb_incremental != full-merge updatedb")
            t.release()
            limit = cfg.db_update_incremental_max_touched
            for c in t_cycles:
                ratio = tracer.spans[f"c{c.cycle_id}.updatedb"].counts["touched_ratio"]
                if (ratio < limit) != (wl.merge == "split"):
                    fails.append(f"c{c.cycle_id}: touched_ratio {ratio:.3f} does not take "
                                 f"the {wl.merge} path (threshold {limit})")
    _mark(report, "checks")

    u_cycles = cycles[0]
    wall = sum(c.wall_s for c in u_cycles)
    out = {
        "spans": tracer.spans,
        "end_to_end": {
            "setup_s": sess.start_s + materialize_s + base_s,
            "inject_s": injects["untraced"],
            "cycle_s": statistics.median(c.wall_s for c in u_cycles),
            "urls_per_s": sum(c.fetched for c in u_cycles) / wall,
        },
    }
    if trace:
        out["extra"] = {
            "session.start_s": sess.start_s,
            "frontier.materialize_s": materialize_s,
            "trace.cycle_s": statistics.median(c.wall_s for c in cycles[1]),
        }
    return out


def layer_metrics(spans, ledger, n_cycles, cores, extra) -> dict[str, float]:
    """Per-layer metrics: each is the median over the measured traced
    cycles of the layer's ledger entry and span."""
    zero = {m: 0.0 for m, _ in LAYER_BLOCK}
    out = dict(extra)
    for layer in LAYERS:
        groups = (["c0.inject"] if layer == "inject"
                  else [f"c{i}.{layer}" for i in range(1, n_cycles + 1)])
        rows = []
        for g in groups:
            span, led = spans[g], {**zero, **ledger["groups"].get(g, {})}
            rows.append({
                **{m: led[m] for m, _ in LAYER_BLOCK if m in led},
                "wall_s": span.wall_s,
                "proc_cpu_s": span.proc_cpu_s,
                "util": led["task_s"] / (span.wall_s * cores),
                **span.counts,
            })
        for m, _ in LAYER_BLOCK:
            out[f"{layer}.{m}"] = statistics.median(r[m] for r in rows)
        for name, _ in LAYER_EXTRA:
            head, _, m = name.partition(".")
            if head == layer and m in rows[0]:
                out[name] = statistics.median(r[m] for r in rows)
    return out


def run_one(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, "nutch_spark")):
        print(f"perfbench: no nutch_spark package in {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from nutch_spark.config import NutchConfig
    from procmon import PeakRss

    # one run at a time per checkout: a second run would wipe this one's WORK
    lock = open(WORK + ".lock", "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        print(f"perfbench: another run holds {lock.name}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    n_cycles = max(1, round(args.seconds / wl.nominal_cycle_s))
    cfg = NutchConfig(fetch_partitions=2 * cores, shuffle_partitions=2 * cores)
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    report = {"workload": args.workload, "seed": args.seed, "cores": cores,
              "measured_cycles": n_cycles, "trace": args.trace,
              "phase_s": {"start": time.perf_counter()}}
    ops = Ops()
    try:
        with PeakRss(os.getpid()) as rss:
            sess = Session(cores, os.path.join(WORK, "events") if args.trace else None)
            try:
                res = run_passes(sess, wl, args.seed, n_cycles, cfg, ops, report,
                                 trace=bool(args.trace))
            finally:
                sess.stop()
                _mark(report, "stop")
        if args.trace:
            import ledger as ledger_mod

            led = ledger_mod.build(os.path.join(WORK, "events"))
            report["ledger_totals"] = led["totals"]
            metrics = layer_metrics(res["spans"], led, n_cycles, cores, res["extra"])
        else:
            metrics = {**res["end_to_end"], "peak_rss_mb": rss.peak_mb}
    except Exception:  # noqa: BLE001 - the run must still report and exit nonzero
        traceback.print_exc()
        if not ops.attempted:
            return 1
        ops.check_failures.append("run aborted")
        metrics = {}
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
        lock.close()

    units = dict(PER_LAYER if args.trace else END_TO_END)
    missing = sorted(set(units) - set(metrics))
    if missing and not ops.failed:
        ops.check_failures.append(f"metrics not measured: {missing}")
    ok = not ops.failed
    report["check_failures"] = ops.check_failures
    report["phase_s"]["start"] = 0.0
    print(json.dumps({"report": report}, default=str))
    for name, unit in units.items():
        print(f"{args.workload:<14} {name:<32} {metrics.get(name, float('nan')):>14.6g} {unit:<6}"
              f" {'ok' if ok else 'FAIL'}")
    print(json.dumps({
        "correct": ok,
        "attempted": max(1, ops.attempted),
        "failed": ops.failed,
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units.items() if n in metrics},
    }))
    return 0 if ok else 1


def run_all(args) -> int:
    """Every workload, one child process each, then one summary line."""
    results = {}
    for name in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True, check=False,
        )
        lines = proc.stdout.splitlines()
        print("\n".join(lines[:-1]))
        try:
            results[name] = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            results[name] = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
    ok = all(r["correct"] for r in results.values())
    print(json.dumps({
        "correct": ok,
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{w}.{n}": v for w, r in results.items() for n, v in r["metrics"].items()},
    }))
    return 0 if ok else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=20,
                    help="measured time per run; sets the number of measured cycles")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
